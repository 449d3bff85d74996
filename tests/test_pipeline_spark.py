"""End-to-end Spark pipeline parity: pages -> triples vs pandas gold."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from remediner_spark.gold import gold_triples
from remediner_spark.metrics import triple_precision_recall
from remediner_spark.operators.ner import (
    extract_triples_stage,
    with_inverse_triples,
)
from remediner_spark.operators.text import (
    extraction_mismatch_count,
    filter_language,
    with_extracted_text,
)


@pytest.fixture(scope="module")
def pages_df(spark, corpus_dir):
    return spark.read.parquet(f"{corpus_dir}/pages.parquet")


@pytest.fixture(scope="module")
def ann_pdf(corpus_dir):
    return pd.read_parquet(f"{corpus_dir}/ade_annotations.parquet")


@pytest.fixture(scope="module")
def tagger_bc(spark):
    from remediner_spark.plans.pipeline import default_tagger_bc

    return default_tagger_bc(spark)


def test_extraction_invariant_zero_mismatches(pages_df):
    assert extraction_mismatch_count(pages_df) == 0


def test_language_filter(pages_df):
    total = pages_df.count()
    en = filter_language(pages_df).count()
    assert 0 < en < total


def test_e2e_triples_match_gold(spark, pages_df, ann_pdf, tagger_bc):
    english = filter_language(pages_df)
    extracted = with_extracted_text(english).drop("text").withColumnRenamed(
        "extracted_text", "text"
    )
    triples = extract_triples_stage(extracted, tagger_bc)
    gold = spark.createDataFrame(gold_triples(ann_pdf))
    scores = triple_precision_recall(triples, gold)
    assert scores["n_gold"] > 100
    assert scores["precision"] >= 0.95, scores
    assert scores["recall"] >= 0.95, scores


def test_inverse_triples(spark, pages_df, tagger_bc):
    english = filter_language(pages_df)
    triples = extract_triples_stage(english, tagger_bc)
    both = with_inverse_triples(triples)
    counts = dict(
        both.groupBy("pred").count().rdd.map(lambda r: (r[0], r[1])).collect()
    )
    assert counts["CAUSES"] == counts["TREATED_WITH"] > 0


def test_inverse_triples_one_extraction_pass(spark, pages_df, tagger_bc):
    """Both directions come out of ONE run of the fused extraction: the
    plan holds one MapInPandas and no Union (a union re-executes its
    whole input subtree per branch), and the rows equal the union form
    as a multiset."""
    from collections import Counter

    from remediner_spark.plancheck import logical_nodes

    triples = extract_triples_stage(filter_language(pages_df), tagger_bc)
    both = with_inverse_triples(triples)
    assert len(logical_nodes(both, "MapInPandas")) == 1
    assert logical_nodes(both, "Union") == []
    union = triples.unionByName(
        triples.select(
            "url", "warc_ts", "sent_idx",
            F.col("obj").alias("subj"),
            F.lit("TREATED_WITH").alias("pred"),
            F.col("subj").alias("obj"),
        )
    )
    assert both.columns == union.columns
    got = Counter(tuple(r) for r in both.collect())
    assert got == Counter(tuple(r) for r in union.collect())
    assert sum(got.values()) > 0
