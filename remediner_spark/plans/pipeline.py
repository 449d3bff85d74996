"""End-to-end KG construction pipeline (SURVEY.md §3.4).

    pages scan -> filter(lang) -> Arrow-UDF extract (byte-identity) ->
    fused segment/NER/RE triple extraction -> operators/graph.build_graph
    (salted surface-pair aggregation -> entity linking of the distinct
    surfaces (broadcast dict + LSH) -> surface->id merge -> nodes/edges)

The triple stage optionally runs through plans.checkpoint.run_stage for
per-partition resumability with lineage + metrics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.graph import graph_frames, link_counts
from ..operators.ner import (
    GazetteerTagger,
    extract_triples_stage,
    with_inverse_triples,
)
from ..operators.text import filter_language
from .checkpoint import run_stage


def default_tagger_bc(spark: SparkSession):
    from ..sources.corpus import drug_lexicon, effect_lexicon, typo_surface

    # the gazetteer stands in for the trained NER model, which
    # generalizes to noisy surfaces — include the corpus's typo class
    # in the model vocabulary (they are NOT dictionary aliases, so they
    # exercise the LSH linking path end-to-end)
    drugs = drug_lexicon()
    drugs = drugs + [typo_surface(d) for d in drugs]
    return spark.sparkContext.broadcast(
        GazetteerTagger(drugs, effect_lexicon())
    )


def run_pipeline(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    tagger_bc=None,
    checkpoint: bool = True,
    n_buckets: int = 32,
) -> dict:
    """Full run; returns metrics dict. Writes triples/nodes/edges
    parquet under out_dir; checkpoint manifests beside them."""
    tagger_bc = tagger_bc or default_tagger_bc(spark)
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    english = filter_language(pages)

    def extract_transform(df: DataFrame) -> DataFrame:
        # html->text extraction fused into the same Python stage; the
        # byte-identity invariant is a separate audit action
        # (operators.text.extraction_mismatch_count, run by job.py)
        return extract_triples_stage(df, tagger_bc, extract_html=True)

    if checkpoint:
        triples = run_stage(
            spark, "triples", english, extract_transform, out_dir, n_buckets
        )
    else:
        triples = extract_transform(english)

    dictionary = spark.read.parquet(
        os.path.join(corpus_dir, "entity_dictionary.parquet")
    )
    # graph_frames and with_inverse_triples both consume `triples`:
    # without materialization each re-runs the whole Python extraction
    # stage of an un-checkpointed run
    if not checkpoint:  # checkpointed triples are already parquet-backed
        triples = triples.cache()
    nodes, edges, pairs, surface_links = graph_frames(triples, dictionary)

    # graph tables land in the Iceberg-style format (snapshot history,
    # manifest-planned reads, partition pruning) — sources/table.py
    from ..sources.table import read_table, write_table

    write_table(nodes, os.path.join(out_dir, "nodes"), mode="overwrite")
    write_table(edges, os.path.join(out_dir, "edges"), mode="overwrite")
    write_table(
        with_inverse_triples(triples),
        os.path.join(out_dir, "triples_out"),
        mode="overwrite",
        partition_by=["pred"],
    )
    return {
        "n_triples": read_table(spark, os.path.join(out_dir, "triples_out")).count(),
        "n_nodes": read_table(spark, os.path.join(out_dir, "nodes")).count(),
        "n_edges": read_table(spark, os.path.join(out_dir, "edges")).count(),
        "link_counts": link_counts(pairs, surface_links),
    }
