"""Physical-plan properties that must hold at scale (pushdown, pruning,
broadcast, top-k limit) — the cheap in-CI slice of tools/explain_audit."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_lang_filter_pushed_to_scan(spark):
    from remediner_spark.operators.relational import q_r13_word_explode

    plan = plan_of(q_r13_word_explode(spark, SF))
    assert "EqualTo(lang,en)" in plan


def test_scan_column_pruned(spark):
    from remediner_spark.operators.textstats import q_text_tokens

    plan = plan_of(q_text_tokens(spark, SF))
    read_schema = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln
    ][0]
    assert "text" in read_schema and "source" not in read_schema


def test_dim_join_broadcasts(spark):
    from remediner_spark.operators.relational import q_join_broadcast_dims

    plan = plan_of(q_join_broadcast_dims(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_uses_window_group_limit(spark):
    from remediner_spark.operators.relational import q_window_topk

    plan = plan_of(q_window_topk(spark, SF))
    assert "WindowGroupLimit" in plan


def test_fused_stage_prunes_html(spark, corpus_dir):
    from remediner_spark.operators.ner import extract_triples_stage
    from remediner_spark.operators.text import filter_language
    from remediner_spark.plans.pipeline import default_tagger_bc

    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    df = extract_triples_stage(filter_language(pages), default_tagger_bc(spark))
    read_schema = [
        ln for ln in plan_of(df).splitlines() if "ReadSchema" in ln
    ][0]
    assert "html" not in read_schema
    assert "text" in read_schema


def test_graph_edges_single_extraction_pass(spark, corpus_dir):
    """The surface-first graph formulation must run the Python
    extraction stage EXACTLY once in the edge plan (one fused pass:
    extraction -> salted surface-pair agg), never once per consumer —
    the multi-pass regression this round removed. The plan must also
    carry no InMemoryRelation below the aggregation (triples are
    streamed, not cached)."""
    from remediner_spark.operators.graph import build_graph
    from remediner_spark.operators.ner import extract_triples_stage
    from remediner_spark.operators.text import filter_language
    from remediner_spark.plans.pipeline import default_tagger_bc
    from remediner_spark.sources.corpus import generate_entity_dictionary

    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    triples = extract_triples_stage(
        filter_language(pages), default_tagger_bc(spark)
    )
    dictionary = spark.createDataFrame(generate_entity_dictionary())
    nodes, edges = build_graph(triples, dictionary)
    plan = plan_of(edges)
    # formatted explain re-prints cached subtrees inside every
    # InMemoryRelation, so count UNIQUE operator ids, not text hits
    import re

    ids = set(re.findall(r"^\((\d+)\) MapInPandas", plan, re.MULTILINE))
    assert len(ids) == 1, plan[:2000]


def test_cache_scope_releases_everything(spark):
    """session.release_caches drops SQL caches and raw RDD persists —
    the unpersist discipline bench.py applies between queries."""
    from remediner_spark.session import release_caches

    release_caches(spark)  # clean slate
    df = spark.range(100).cache()
    df.count()
    rdd = spark.sparkContext.parallelize(range(10)).persist()
    rdd.count()
    assert len(list(
        spark.sparkContext._jsc.getPersistentRDDs().keys()
    )) >= 1
    release_caches(spark)
    assert list(spark.sparkContext._jsc.getPersistentRDDs().keys()) == []


def _final_plan_nodes(df):
    """(nodeName, simpleString) of every node of ``df``'s executed plan
    after an action: through AQE's query stages, and into each cached
    relation's own plan ONCE (however many scans read it)."""
    jvm = df.sparkSession._jvm
    seen, out = set(), []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        n = stack.pop()
        name = n.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(n.executedPlan())
            continue
        out.append((name, n.simpleString(400)))
        it = n.children().iterator()
        while it.hasNext():
            stack.append(it.next())
        if name.endswith("QueryStage"):
            stack.append(n.plan())
        if name == "InMemoryTableScan":
            rel = jvm.System.identityHashCode(n.relation().cacheBuilder())
            if rel not in seen:
                seen.add(rel)
                stack.append(n.relation().cachedPlan())
    return out


def test_link_surfaces_single_winner_aggregation(spark):
    """Regression pin for the r5 linking plan: winner selection is ONE
    aggregation — no Window node (the old dropDuplicates + row_number
    pair cost two vocabulary-grain shuffles and a sort). And the
    dictionary-matched frame is materialized once: a lazy input's
    distinct shuffle and the exact-dictionary broadcast each run once,
    not once per consumer (the residual LSH side and the final join)."""
    import pandas as pd

    from remediner_spark.operators.linking import link_surfaces
    from remediner_spark.session import release_caches
    from remediner_spark.sources.corpus import (
        generate_entity_dictionary,
        typo_surface,
    )

    d = generate_entity_dictionary()
    al = d.drop_duplicates(["alias", "entity_type"]).head(20)
    rows = [(a.lower(), t) for a, t in zip(al.alias, al.entity_type)]
    rows += [(typo_surface(a).lower(), t) for a, t in rows]
    rows += [(f"s{i}", "DRUG") for i in range(10)]
    surfaces = spark.createDataFrame(
        pd.DataFrame(rows * 2, columns=["surface_norm", "entity_type"])
    ).dropDuplicates()
    linked = link_surfaces(surfaces, spark.createDataFrame(d))
    plan = plan_of(linked)
    assert "Window" not in plan
    # struct-min compiles to SortAggregate (still partial+final — one
    # exchange), never a Window sort
    assert "SortAggregate" in plan

    methods = {r.link_method for r in linked.collect()}
    assert methods == {"dict", "lsh", "unlinked"}
    nodes = _final_plan_nodes(linked)
    input_shuffles = [
        s for name, s in nodes
        if name in ("Exchange", "ReusedExchange")
        and "hashpartitioning(surface_norm" in s
    ]
    assert len(input_shuffles) == 1, input_shuffles
    # three broadcasts: the exact dictionary, the alias bands and the
    # LSH winners (uncached, the exact dictionary was broadcast twice)
    broadcasts = [s for name, s in nodes if name == "BroadcastExchange"]
    assert len(broadcasts) == 3, broadcasts
    release_caches(spark)
