"""Physical-plan audit: dump .explain(formatted) for key queries and
grep for the properties that matter at scale:

* PushedFilters / column-pruned ReadSchema on parquet scans
* WholeStageCodegen spans around relational stages
* BroadcastHashJoin where a dimension is joined
* no Exchange where none is needed
* no Python-RDD-backed relation (``createDataFrame(<list of rows>)``)
  in ANY entry's optimized plan: it runs a Python-worker job on every
  action; a pandas or Arrow frame plans as a JVM LocalRelation instead

Usage: python tools/explain_audit.py [sf_dir] > PLANS.txt
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")


def get_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod
    from remediner_spark.session import get_spark

    spark = get_spark(app_name="explain-audit", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    audit_set = [
        "r13_word_explode",      # pushdown: lang='en' filter
        "join_broadcast_dims",   # broadcast joins
        "agg_two_phase",         # partial agg
        "dedup_exact",
        "dedup_minhash_lsh",
        "sim_topk_bruteforce",
        "m6_triple_assembly",    # mapInPandas stage
        "dedup_embed_cosine",    # banded LSH, not all-pairs
        "dedup_ngram_jaccard",   # df-cap semi-join BEFORE collect_list
        "pack_sequences",        # broadcast prefix join
        "tpch_q3",               # broadcast dim, shuffle fact join
        "sim_topk_pq",           # ADC: no all-pairs, broadcast rerank
        "table_mor_read",        # MoR deletes: broadcast anti-join
        "url_canonicalize",      # pure codegen projection, no shuffle
        "warc_ingest",           # map-side ingest explode
        "robots_filter",         # map-side politeness filter
        "text_lm_score",         # count aggs + hash joins
        "sim_topk_ivf",          # plan-side probe selection
        "join_range",            # bucketized range join
        "join_asof",             # union-sort-carry as-of join
        "search_bm25",           # broadcast query join + WindowGroupLimit
        "topk_heavy_hitters",    # broadcast candidate semi-join recount
        "web_link_graph",        # JVM-regex href extraction, no Python hop
        # every rank-filtered window query must plan its rank<=k as
        # WindowGroupLimit (r8 verdict #1/#7: q_web_backlinks CLAIMED
        # the pushdown while a second unbounded window blocked it —
        # this assertion catches the next false claim mechanically)
        "web_backlinks",
        "window_topk",
        "kg_top_effects_per_drug",
        "kg_final_model_triples",  # one fused Python stage
    ]
    checks = {
        "r13_word_explode": ["PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"],
        "join_broadcast_dims": ["BroadcastHashJoin"],
        "agg_two_phase": ["HashAggregate"],
        "dedup_exact": ["HashAggregate"],
        # higher-order array exprs (transform/aggregate) are not
        # codegen'd; what matters here: scan pushdown of the query-side
        # filter, broadcast of the small side, and Spark 4's
        # WindowGroupLimit top-k pushdown before the final sort
        "sim_topk_bruteforce": [
            "LessThan(vec_id,5)",
            "WindowGroupLimit",
            "BroadcastNestedLoopJoin",
        ],
        # embedding near-dup must candidate via the band equi-join
        # (hash-joinable keys), never a nested-loop over all pairs
        "dedup_embed_cosine": ["!BroadcastNestedLoopJoin", "!CartesianProduct"],
        # the packing prefix table is metadata-sized -> broadcast join
        "pack_sequences": ["BroadcastHashJoin"],
        # the doc-frequency cap must run as a count agg + head
        # anti-join BEFORE collect_list, so no reducer holds an
        # uncapped posting array (head stop-shingle OOM at 100 TB)
        "dedup_ngram_jaccard": ["LeftAnti", "collect_list"],
        # customer dim broadcast; shipdate/orderdate filters pushed to
        # the parquet scans; top-10 via TakeOrdered, not a global sort
        "tpch_q3": ["BroadcastHashJoin", "PushedFilters: [IsNotNull(l_shipdate)",
                    "TakeOrderedAndProject"],
        # PQ search: codes + plan-literal partial tables, never an
        # all-pairs vector join; the rerank joins the tiny shortlist
        # against vectors hash-wise
        "sim_topk_pq": ["!CartesianProduct", "BroadcastHashJoin",
                        "WindowGroupLimit"],
        # merge-on-read scan: the equality-delete applies as a
        # BROADCAST anti-join (delete keys are commit-sized), and the
        # predicate delete is a plain filter — no shuffle for either
        "table_mor_read": ["LeftAnti", "BroadcastHashJoin",
                           "!CartesianProduct"],
        # URL canonicalization is a pure projection over the scan, no
        # Exchange anywhere; the inner projection codegens (the outer
        # one carries the higher-order param-filter lambda, which
        # Spark never codegens — still map-side, still one stage)
        "url_canonicalize": ["codegen id", "!Exchange"],
        # crawl ingest/politeness: map-side mapInPandas over the scan
        # — no shuffle before the first content operator
        # one round-robin exchange of the raw (doc_id, text) rows is
        # the scan-parallelism floor (sources/scan.py) — content still
        # crosses into Python exactly once, map-side
        "warc_ingest": ["MapInPandas"],
        "robots_filter": ["MapInPandas", "!Exchange"],
        # LM scoring: count aggs get map-side partials; the count
        # tables join hash-wise, never nested-loop
        "text_lm_score": ["HashAggregate", "!CartesianProduct",
                          "!BroadcastNestedLoopJoin"],
        # range join must bucketize to an equi-join: hash join only
        "join_range": ["!BroadcastNestedLoopJoin", "!CartesianProduct"],
        # as-of: one shuffle + window carry, no nested loop
        "join_asof": ["!BroadcastNestedLoopJoin", "!CartesianProduct",
                      "Window"],
        # IVF probe selection is IN THE PLAN: the probe table builds
        # from a projection over the scan (no job-side collect sneaks
        # a LocalTableScan of query vectors in), candidates join the
        # broadcast probe hash-wise
        "sim_topk_ivf": ["BroadcastHashJoin", "!CartesianProduct"],
        # BM25: the query-term table broadcasts (scoring stays
        # map-side over the postings), per-query top-k is the running
        # WindowGroupLimit, never an all-pairs join
        "search_bm25": ["BroadcastHashJoin", "WindowGroupLimit",
                        "!CartesianProduct"],
        # heavy hitters: the round-2 recount joins the corpus against
        # the BROADCAST candidate set before the groupBy (the one
        # Exchange carries at most partitions x M candidate words),
        # and the final top-k is TakeOrdered, not a global sort
        "topk_heavy_hitters": ["BroadcastHashJoin",
                               "TakeOrderedAndProject"],
        # link extraction must stay JVM-side (decode +
        # regexp_extract_all in codegen): no Arrow/Python eval node
        # anywhere, edge agg with map-side partials
        "web_link_graph": ["HashAggregate", "!MapInPandas",
                           "!BatchEvalPython", "!ArrowEvalPython"],
        # rank-filtered window family: the rank<=k filter must reach
        # the window as WindowGroupLimit (per-partition top-k heaps) —
        # a hot partition key must never become one task's full sort
        "web_backlinks": ["WindowGroupLimit"],
        "window_topk": ["WindowGroupLimit"],
        "kg_top_effects_per_drug": ["WindowGroupLimit"],
        # the composed model runs inside the fused extraction stage:
        # segmentation is no column UDF of its own (one Python hop)
        "kg_final_model_triples": ["MapInPandas", "!ArrowEvalPython",
                                   "!BatchEvalPython"],
    }
    failures = []
    for name in audit_set:
        plan = get_plan(qs[name](spark, sf_dir))
        print(f"{'='*70}\n## {name}\n{plan}")
        for needle in checks.get(name, []):
            if needle.startswith("!"):
                if needle[1:] in plan:
                    failures.append(f"{name}: must NOT contain {needle[1:]!r}")
            elif needle not in plan:
                failures.append(f"{name}: missing {needle!r}")
    # column pruning check: scan of documents for text_tokens must not
    # read the full text... it must read ONLY doc_id+text
    plan = get_plan(qs["text_tokens"](spark, sf_dir))
    print(f"{'='*70}\n## text_tokens\n{plan}")
    if "ReadSchema" in plan:
        rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
        if "lang" in rs or "source" in rs:
            failures.append(f"text_tokens: scan not pruned: {rs.strip()}")
    failures += python_rdd_failures(spark, sf_dir, qs)
    spark.stop()
    if failures:
        print("\nAUDIT FAILURES:", *failures, sep="\n  ")
        return 1
    print("\nAUDIT OK")
    return 0


def python_rdd_failures(spark, sf_dir: str, qs: dict) -> list[str]:
    from remediner_spark.plancheck import python_rdd_relations
    from remediner_spark.session import release_caches

    failures = []
    print(f"{'='*70}\n## Python-RDD relations ({len(qs)} entries)")
    for name, q in qs.items():
        n = len(python_rdd_relations(q(spark, sf_dir)))
        release_caches(spark)
        if n:
            failures.append(f"{name}: {n} Python-RDD relation(s) in plan")
    return failures


if __name__ == "__main__":
    sys.exit(main())
