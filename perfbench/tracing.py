"""Spans around calls into the program's modules, plus Spark's own
event log, for the traced (per-layer) run.

Spans are recorded from the benchmark's side only: ``Tracer.install``
replaces the public functions listed in ``TARGETS`` with timing
wrappers, in their defining module and in every loaded module that
imported them by name, and ``uninstall`` restores them. A span is
(id, name, label, parent, op, start, end, error), kept in memory and
written as JSON at the end of the run.

Most of the program's functions build lazy DataFrames, so their span
covers planning; the Spark work runs in the span of the action that
consumes the frame. Jobs in the event log are attributed to the
innermost span open when the job was submitted.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time
from collections import defaultdict

# (module, function, span name)
TARGETS = [
    ("remediner_spark.plans.pipeline", "run_pipeline", "pipeline.run_pipeline"),
    ("remediner_spark.sources.scan", "scan_parquet", "sources.scan_parquet"),
    ("remediner_spark.operators.text", "extraction_mismatch_count", "text.audit"),
    ("remediner_spark.operators.ner", "extract_triples_stage", "ner.extract_triples_stage"),
    ("remediner_spark.plans.checkpoint", "run_stage", "checkpoint.run_stage"),
    ("remediner_spark.operators.linking", "link_surfaces", "linking.link_surfaces"),
    ("remediner_spark.operators.graph", "build_edges", "graph.build_edges"),
    ("remediner_spark.operators.graph", "nodes_from_edges", "graph.nodes_from_edges"),
    ("remediner_spark.sources.table", "write_table", "table.write_table"),
    ("remediner_spark.sources.table", "read_table", "table.read_table"),
    ("remediner_spark.streaming", "stream_edge_weights", "streaming.stream_edge_weights"),
    ("remediner_spark.streaming", "edge_merge_fn", "streaming.edge_merge_fn"),
]


def parquet_files(path: str) -> int:
    n = 0
    for _root, _dirs, names in os.walk(path):
        n += sum(1 for f in names if f.endswith(".parquet"))
    return n


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: int | None = None
        self.captured: dict[str, object] = {}
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, label: str = ""):
        rec = {
            "id": len(self.spans),
            "name": name,
            "label": label,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
            "start": time.time(),
            "end": None,
            "error": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def _wrap(self, span_name: str, fn):
        tracer = self

        if span_name == "table.write_table":
            def wrapper(df, path, *a, **kw):
                before = parquet_files(path)
                with tracer.span(span_name, os.path.basename(path)) as rec:
                    out = fn(df, path, *a, **kw)
                rec["files_written"] = parquet_files(path) - before
                rec["path"] = path
                return out
        elif span_name == "table.read_table":
            def wrapper(spark, path, *a, **kw):
                with tracer.span(span_name, os.path.basename(path)):
                    return fn(spark, path, *a, **kw)
        elif span_name == "streaming.edge_merge_fn":
            def wrapper(spark, table_path, *a, **kw):
                merge = fn(spark, table_path, *a, **kw)

                def traced_merge(batch_df, batch_id):
                    from remediner_spark.sources.table import table_snapshots

                    n0 = len(table_snapshots(table_path))
                    with tracer.span("streaming.merge_batch", str(batch_id)) as rec:
                        merge(batch_df, batch_id)
                    rec["committed"] = len(table_snapshots(table_path)) > n0
                return traced_merge
        else:
            def wrapper(*a, **kw):
                with tracer.span(span_name):
                    out = fn(*a, **kw)
                tracer.captured[span_name] = out
                return out
        wrapper.__wrapped__ = fn
        return wrapper

    def install(self) -> None:
        import importlib

        for mod_name, attr, span_name in TARGETS:
            original = getattr(importlib.import_module(mod_name), attr)
            wrapper = self._wrap(span_name, original)
            for name, mod in list(sys.modules.items()):
                if mod is None or not (
                    name.startswith("remediner_spark") or name == "__spark_entry__"
                ):
                    continue
                for k, v in list(vars(mod).items()):
                    if v is original:
                        setattr(mod, k, wrapper)
                        self._patched.append((mod, k, original))

    def uninstall(self) -> None:
        for mod, k, original in reversed(self._patched):
            setattr(mod, k, original)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)

    # --- queries over the recorded spans ---

    def per_op(self, name: str, field: str = "dur") -> list[float]:
        """Per traced op: the sum of ``field`` (or the duration) over the
        spans called ``name``."""
        sums: dict[int, float] = {op: 0.0 for op in self.ops()}
        for s in self.spans:
            if s["name"] == name and s["op"] in sums:
                sums[s["op"]] += (
                    s["end"] - s["start"] if field == "dur" else float(s.get(field) or 0)
                )
        return list(sums.values())

    def ops(self) -> list[int]:
        return sorted({s["op"] for s in self.spans if s["name"] == "op"})

    def innermost(self, t: float) -> dict | None:
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or t) and (
                best is None or s["start"] >= best["start"]
            ):
                best = s
        return best


def median0(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean0(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


# --- Spark event log ---

_PY = {
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
    "time to run Python workers": "py_run",
}


def _rows_into_map_in_pandas(plan: dict) -> set[int]:
    """Accumulator ids of the rows each ``MapInPandas`` node takes in:
    the row count of the nearest node below it that counts rows."""
    def rows_id(node):
        return next((m["accumulatorId"] for m in node.get("metrics", [])
                     if m["name"] == "number of output rows"), None)

    def nearest(node):
        for child in node.get("children", []):
            found = rows_id(child)
            if found is None:
                found = nearest(child)
            if found is not None:
                return found
        return None

    ids, stack = set(), [plan]
    while stack:
        node = stack.pop()
        if node["nodeName"] == "MapInPandas":
            ids.add(nearest(node))
        stack.extend(node.get("children", []))
    ids.discard(None)
    return ids


def read_event_log(log_dir: str) -> dict[int, dict]:
    """stage id -> {submit, complete, job_submit, tasks: [run ms],
    input_records, input_bytes, shuffle_bytes, spill_bytes, gc_ms, python metrics
    (ms, bytes), rows into MapInPandas nodes, scopes (plan node names),
    scans (scan node ids)}."""
    stages: dict[int, dict] = defaultdict(
        lambda: {"tasks": [], "input_records": 0, "input_bytes": 0, "shuffle_bytes": 0,
                 "spill_bytes": 0, "gc_ms": 0, "py_bytes_in": 0,
                 "py_bytes_out": 0, "py_run": 0, "map_in_pandas_rows": 0,
                 "scopes": set(), "scans": set(),
                 "job_submit": None, "submit": None, "complete": None}
    )
    map_in_pandas_input: set[int] = set()
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    map_in_pandas_input |= _rows_into_map_in_pandas(e["sparkPlanInfo"])
                elif kind == "SparkListenerJobStart":
                    for sid in e["Stage IDs"]:
                        st = stages[sid]
                        if st["job_submit"] is None:
                            st["job_submit"] = e["Submission Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    st = stages[e["Stage ID"]]
                    m = e.get("Task Metrics") or {}
                    st["tasks"].append(m.get("Executor Run Time", 0))
                    st["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    for acc in e["Task Info"].get("Accumulables", []):
                        key = _PY.get(acc.get("Name"))
                        if acc.get("ID") in map_in_pandas_input:
                            key = "map_in_pandas_rows"
                        if key:
                            st[key] += int(acc.get("Update") or 0)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = stages[info["Stage ID"]]
                    st["submit"] = info.get("Submission Time", 0) / 1000
                    st["complete"] = info.get("Completion Time", 0) / 1000
                    for rdd in info.get("RDD Info", []):
                        scope = json.loads(rdd.get("Scope") or "{}")
                        name = scope.get("name", "")
                        st["scopes"].add(name)
                        if name.startswith("Scan"):
                            st["scans"].add(scope.get("id"))
    return {sid: st for sid, st in stages.items() if st["job_submit"] is not None}


def attribute_stages(tracer: Tracer, stages: dict[int, dict]) -> None:
    """Tags each stage with the op and innermost span open when its job
    was submitted."""
    for st in stages.values():
        s = tracer.innermost(st["job_submit"])
        st["op"] = s["op"] if s else None
        st["span"] = s["name"] if s else None
        st["span_label"] = s["label"] if s else None
        st["wall_s"] = max((st["complete"] or 0) - (st["submit"] or 0), 0.0)
