"""Per-layer metrics of the traced run (``--trace 1``).

The traced run first repeats the untraced measurement for half of
``--seconds``, then starts a session with Spark's event log on, installs
the spans of ``tracing.Tracer``, primes the new session and measures
the other half. Per-op
quantities are means over the traced ops (a layer's time per op); table, checkpoint, linking
and graph sizes are read from the last op's outputs after the loop.
A layer the workload does not reach reads 0.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench.tracing import (
    Tracer,
    attribute_stages,
    mean0,
    median0,
    parquet_files,
    read_event_log,
)
from perfbench.workloads import QueryMix

UNITS = {
    # end-to-end quantities of single workloads, from the untraced half
    "failed_share": "share",
    "segment_latency_s.p50": "s",
    "queries_per_s": "1/s",
    "triple_precision": "share",
    "triple_recall": "share",
    "trace.overhead_share": "share",
    "sources.scan_s": "s",
    "sources.scan_tasks": "count",
    "sources.max_task_share": "share",
    "kernels.extract_text_s": "s",
    "kernels.split_sentences_s": "s",
    "kernels.normalize_s": "s",
    "kernels.match_pairs_s": "s",
    "kernels.sentences": "count",
    "kernels.pairs": "count",
    "ner.stage_s": "s",
    "ner.python_s": "s",
    "ner.bytes_to_python": "bytes",
    "ner.bytes_from_python": "bytes",
    "ner.rows_in": "count",
    "ner.triples_out": "count",
    "text.audit_s": "s",
    "text.mismatches": "count",
    "checkpoint.run_stage_s": "s",
    "checkpoint.buckets": "count",
    "checkpoint.files": "count",
    "checkpoint.manifest_bytes": "bytes",
    "linking.link_surfaces_s": "s",
    "linking.surfaces": "count",
    "linking.resolved_share": "share",
    "linking.lsh_share": "share",
    "graph.build_edges_s": "s",
    "graph.nodes_from_edges_s": "s",
    "graph.edges": "count",
    "graph.nodes": "count",
    "graph.shuffle_bytes": "bytes",
    "table.write_s": "s",
    "table.read_s": "s",
    "table.commits": "count",
    "table.files_written": "count",
    "table.snapshots": "count",
    "table.metadata_bytes": "bytes",
    "table.read_failures": "count",
    "streaming.start_s": "s",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.batches": "count",
    "streaming.replays_skipped": "count",
    **{f"query.{q}_s": "s" for q in QueryMix.ENTRIES},
    "session.get_spark_s": "s",
    "session.fixture_s": "s",
    "session.release_caches_s": "s",
    "spark.stages": "count",
    "spark.serial_stages": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
}

# a stage is serial when one task ran more than half of its task time;
# stages with less task time than this are scheduling noise
SERIAL_MIN_TASK_MS = 100


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total


def kernel_sample(spark, seed: int, n_pages: int = 2000) -> dict:
    """The fused extraction kernels, called in-process on a fixed page
    sample; each phase's time is the median of three repetitions."""
    import pandas as pd

    from remediner_spark.kernels import webtext
    from remediner_spark.kernels.normalize import normalize_series
    from remediner_spark.plans.pipeline import default_tagger_bc
    from remediner_spark.sources.corpus import generate_pages

    pages, _ann = generate_pages(n_pages, seed)
    matcher = default_tagger_bc(spark).value.batch_matcher()
    times: dict[str, list[float]] = {}

    def timed(name, fn, *a):
        t0 = time.perf_counter()
        out = fn(*a)
        times.setdefault(name, []).append(time.perf_counter() - t0)
        return out

    for _ in range(3):
        text = timed("extract_text", webtext.extract_text, pages["html"])
        flat, _doc_of = timed("split_sentences", webtext.split_sentences_flat, text)
        norm = timed("normalize", normalize_series, pd.Series(flat, dtype=object))
        pairs = timed("match_pairs", matcher.extract_pairs, norm)
    out = {f"kernels.{k}_s": statistics.median(v) for k, v in times.items()}
    out["kernels.sentences"] = len(flat)
    out["kernels.pairs"] = len(pairs)
    return out


def _link_graph_counts(tracer: Tracer) -> dict:
    """Sizes of the last op's linking and graph frames, recomputed from
    its checkpointed triples after the timed loop."""
    out = {}
    links = tracer.captured.get("linking.link_surfaces")
    if links is not None:
        by = {r["link_method"]: r["count"] for r in links.groupBy("link_method").count().collect()}
        n = sum(by.values())
        out["linking.surfaces"] = n
        out["linking.resolved_share"] = (n - by.get("unlinked", 0)) / n if n else 0.0
        out["linking.lsh_share"] = by.get("lsh", 0) / n if n else 0.0
    for key, name in (("graph.edges", "graph.build_edges"), ("graph.nodes", "graph.nodes_from_edges")):
        df = tracer.captured.get(name)
        if df is not None:
            out[key] = df.count()
    return out


def _table_state(bench) -> dict:
    """Snapshots and metadata bytes of the tables the workload keeps."""
    from remediner_spark.sources.table import table_snapshots

    wl = bench.wl
    if wl.name == "edge_stream":
        tables = [wl.table]
    elif wl.name == "kg_build" and wl.last_out:
        tables = [os.path.join(wl.last_out, t) for t in ("nodes", "edges", "triples_out")]
    elif wl.name == "query_mix":
        tables = wl.fixture_dirs()
    else:
        tables = []
    tables = [t for t in tables if os.path.isdir(os.path.join(t, "_metadata"))]
    return {
        "table.snapshots": sum(len(table_snapshots(t)) for t in tables),
        "table.metadata_bytes": sum(_dir_bytes(os.path.join(t, "_metadata")) for t in tables),
    }


def _checkpoint_state(bench) -> dict:
    from remediner_spark.plans.checkpoint import committed_buckets

    out_dir = getattr(bench.wl, "last_out", None)
    if bench.wl.name != "kg_build" or not out_dir:
        return {}
    manifest = os.path.join(out_dir, "manifest_triples.jsonl")
    return {
        "checkpoint.buckets": len(committed_buckets(out_dir, "triples")),
        "checkpoint.files": parquet_files(os.path.join(out_dir, "triples")),
        "checkpoint.manifest_bytes": os.path.getsize(manifest) if os.path.exists(manifest) else 0,
    }


def _stage_metrics(tracer: Tracer, stages: dict[int, dict]) -> dict:
    ops = tracer.ops()
    by_op: dict[int, list[dict]] = {op: [] for op in ops}
    for st in stages.values():
        if st["op"] in by_op:
            by_op[st["op"]].append(st)
    ner_ops = {s["op"] for s in tracer.spans if s["name"] == "ner.extract_triples_stage"}

    def per_op(fn):
        return mean0(fn(by_op[op], op) for op in ops)

    def scan(sts):
        # stages that read files; a stage that reads a cached frame
        # counts cached batches as input records, and lists the cached
        # plan's file scan among its scopes
        return [s for s in sts if s["input_records"] > 0 and "InMemoryTableScan" not in s["scopes"]]

    def max_share(sts, op):
        # the largest task's share of its scan's task time, in the
        # stage that reads the most bytes from files; a stage's task
        # time is taken to split evenly over its scan nodes (a union
        # may scan twice)
        sts = [s for s in scan(sts) if sum(s["tasks"])]
        if not sts:
            return 0.0
        heavy = max(sts, key=lambda s: s["input_bytes"])
        per_scan = sum(heavy["tasks"]) / max(len(heavy["scans"]), 1)
        return min(max(heavy["tasks"]) / per_scan, 1.0)

    def ner(sts, op):
        return [s for s in sts if op in ner_ops and "MapInPandas" in s["scopes"]]

    def serial(sts, op):
        return sum(
            1 for s in sts
            if sum(s["tasks"]) >= SERIAL_MIN_TASK_MS and max(s["tasks"]) > 0.5 * sum(s["tasks"])
        )

    def graph_shuffle(sts, op):
        return sum(
            s["shuffle_bytes"] for s in sts
            if s["span"] == "table.write_table" and s["span_label"] in ("nodes", "edges")
        )

    return {
        "sources.scan_s": per_op(lambda sts, op: sum(s["wall_s"] for s in scan(sts))),
        "sources.scan_tasks": per_op(lambda sts, op: sum(len(s["tasks"]) for s in scan(sts))),
        "sources.max_task_share": per_op(max_share),
        "ner.stage_s": per_op(lambda sts, op: sum(s["wall_s"] for s in ner(sts, op))),
        "ner.python_s": per_op(lambda sts, op: sum(s["py_run"] for s in ner(sts, op)) / 1000),
        "ner.bytes_to_python": per_op(lambda sts, op: sum(s["py_bytes_in"] for s in ner(sts, op))),
        "ner.bytes_from_python": per_op(lambda sts, op: sum(s["py_bytes_out"] for s in ner(sts, op))),
        "ner.rows_in": per_op(lambda sts, op: sum(s["map_in_pandas_rows"] for s in ner(sts, op))),
        "graph.shuffle_bytes": per_op(graph_shuffle),
        "spark.stages": per_op(lambda sts, op: len(sts)),
        "spark.serial_stages": per_op(serial),
        "spark.shuffle_bytes": per_op(lambda sts, op: sum(s["shuffle_bytes"] for s in sts)),
        "spark.spill_bytes": per_op(lambda sts, op: sum(s["spill_bytes"] for s in sts)),
        "spark.gc_s": per_op(lambda sts, op: sum(s["gc_ms"] for s in sts) / 1000),
    }


def _span_metrics(tracer: Tracer, samples: list[dict]) -> dict:
    def mean(name, field="dur"):
        return mean0(tracer.per_op(name, field))

    progress = [s.get("progress", []) for s in tracer.spans if s["name"] == "op"]

    def prog(fn):
        return mean0(sum(fn(p) for p in ps) for ps in progress)

    by_query: dict[str, list[float]] = {}
    for s in samples:
        if s["query"] and s["error"] is None:
            by_query.setdefault(s["query"], []).append(s["latency_s"])
    read_failures = [
        sum(1 for s in tracer.spans if s["name"] == "table.read_table" and s["op"] == op and s["error"])
        for op in tracer.ops()
    ]
    # a replay is a merge of a batch id the table already committed
    # (foreachBatch redelivery), which merge_batch skips
    replays = {op: 0 for op in tracer.ops()}
    last_committed = -1
    for s in tracer.spans:
        if s["name"] != "streaming.merge_batch" or s["error"]:
            continue
        batch_id = int(s["label"])
        if batch_id <= last_committed and s["op"] in replays:
            replays[s["op"]] += 1
        if s.get("committed"):
            last_committed = max(last_committed, batch_id)
    return {
        "text.audit_s": mean("text.audit"),
        "checkpoint.run_stage_s": mean("checkpoint.run_stage"),
        "linking.link_surfaces_s": mean("linking.link_surfaces"),
        "graph.build_edges_s": mean("graph.build_edges"),
        "graph.nodes_from_edges_s": mean("graph.nodes_from_edges"),
        "table.write_s": mean("table.write_table"),
        "table.read_s": mean("table.read_table"),
        "table.commits": mean0(
            sum(1 for s in tracer.spans if s["name"] == "table.write_table" and s["op"] == op and not s["error"])
            for op in tracer.ops()
        ),
        "table.files_written": mean("table.write_table", "files_written"),
        "table.read_failures": mean0(read_failures),
        "streaming.start_s": mean("streaming.stream_edge_weights"),
        "streaming.trigger_s": prog(lambda p: p.get("durationMs", {}).get("triggerExecution", 0) / 1000),
        "streaming.add_batch_s": prog(lambda p: p.get("durationMs", {}).get("addBatch", 0) / 1000),
        "streaming.batches": prog(lambda p: 1 if p.get("numInputRows", 0) > 0 else 0),
        "streaming.replays_skipped": mean0(replays.values()),
        **{f"query.{q}_s": median0(by_query.get(q, [])) for q in QueryMix.ENTRIES},
    }


def traced_run(bench, untraced: dict, quality: dict) -> tuple[dict, dict]:
    wl = bench.wl
    report = bench.report
    bench.stop_session()
    log_dir = os.path.join(bench.work, "eventlog")
    tracer = Tracer()
    tracer.install()
    try:
        bench.start_session(event_log=log_dir)
        bench.prime()
        samples = bench.measure(bench.args.seconds / 2, tracer=tracer)
        traced = bench.summarize(samples)
        state = {**_link_graph_counts(tracer), **_table_state(bench), **_checkpoint_state(bench)}
        kernels = kernel_sample(bench.spark, bench.args.seed)
    finally:
        tracer.uninstall()
        bench.stop_session()
    stages = read_event_log(log_dir)
    attribute_stages(tracer, stages)
    out_dir = os.path.join(bench.root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"spans_{wl.name}_s{bench.args.seed}.json"))
    report.update(traced_samples=samples, traced_summary=traced, stages=[
        {"stage": sid, "op": st["op"], "span": st["span"], "label": st["span_label"],
         "wall_s": round(st["wall_s"], 3), "tasks": len(st["tasks"]),
         "task_ms": sum(st["tasks"]), "max_task_ms": max(st["tasks"], default=0),
         "input_records": st["input_records"], "py_run": st["py_run"],
         "scopes": sorted(st["scopes"])}
        for sid, st in sorted(stages.items()) if st["op"] is not None
    ])

    done = [s for s in samples if s["error"] is None]
    p50_u, p50_t = untraced["op_latency_s.p50"], traced["op_latency_s.p50"]
    metrics = {k: 0.0 for k in UNITS}
    metrics.update({
        "failed_share": untraced["failed_share"],
        "triple_precision": quality.get("triple_precision", 0.0),
        "triple_recall": quality.get("triple_recall", 0.0),
        "trace.overhead_share": p50_t / p50_u - 1 if p50_u and p50_t else 0.0,
        "text.mismatches": sum(s["mismatches"] for s in done),
        "ner.triples_out": mean0(s["triples"] for s in done),
        "session.get_spark_s": statistics.median(report["get_spark_samples_s"]),
        "session.fixture_s": statistics.median(report["fixture_samples_s"]),
        "session.release_caches_s": median0(s["release_caches_s"] for s in samples),
        **kernels,
        **_stage_metrics(tracer, stages),
        **_span_metrics(tracer, samples),
        **state,
    })
    if wl.name == "edge_stream":
        metrics["segment_latency_s.p50"] = untraced["op_latency_s.p50"]
    if wl.name == "query_mix":
        metrics["queries_per_s"] = untraced["ops_per_s"]
    return metrics, UNITS
