"""Entity linking (dict + LSH) and graph materialization tests."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from remediner_spark.operators.graph import (
    DEFAULT_SALT_BUCKETS,
    SAMPLE_URLS,
    _salt,
    build_graph,
    with_entity_ids,
)
from remediner_spark.operators.linking import (
    attach_surface_links,
    link_mentions,
    link_surfaces,
    mentions_from_triples,
    normalized_surface,
)
from remediner_spark.operators.ner import extract_triples_stage
from remediner_spark.operators.text import filter_language


def build_nodes(
    linked_mentions: DataFrame, salt_buckets: int = DEFAULT_SALT_BUCKETS
) -> DataFrame:
    """linked mentions -> nodes, salted two-phase count: the
    mention-grain referee for nodes_from_edges."""
    m = with_entity_ids(linked_mentions)
    partial = m.withColumn("_salt", _salt(salt_buckets)).groupBy(
        "entity_id", "_salt"
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        F.first("node_name").alias("_name"),
        F.first("entity_type").alias("_type"),
    )
    return partial.groupBy("entity_id").agg(
        F.first("_name").alias("canonical_name"),
        F.first("_type").alias("entity_type"),
        F.sum("_n").alias("n_mentions"),
    )


def link_triples(triples: DataFrame, surface_links: DataFrame) -> DataFrame:
    """Mention-grain referee: attach subj_id/obj_id to every CAUSES
    triple row through broadcast surface->id maps."""
    surf_map = (
        with_entity_ids(surface_links)
        .select("surface_norm", "entity_type", "entity_id")
        .dropDuplicates(["surface_norm", "entity_type"])
    )
    drugs = surf_map.filter(F.col("entity_type") == "DRUG").select(
        F.col("surface_norm").alias("subj"), F.col("entity_id").alias("subj_id")
    )
    effects = surf_map.filter(F.col("entity_type") == "EFFECT").select(
        F.col("surface_norm").alias("obj"), F.col("entity_id").alias("obj_id")
    )
    return (
        triples.filter(F.col("pred") == "CAUSES")
        .join(F.broadcast(drugs), "subj", "left")
        .join(F.broadcast(effects), "obj", "left")
    )


def build_edges_unsalted(linked_triples: DataFrame) -> DataFrame:
    """Single-phase referee for the salted==unsalted equivalence test:
    one groupBy over the triple rows, unbounded url set per edge."""
    return linked_triples.groupBy("subj_id", "pred", "obj_id").agg(
        F.count(F.lit(1)).alias("weight"),
        F.min("warc_ts").alias("first_seen"),
        F.slice(F.array_sort(F.collect_set("url")), 1, SAMPLE_URLS).alias(
            "sample_urls"
        ),
    )


def mention_surface_links(triples: DataFrame, dictionary: DataFrame):
    """(mentions, link table) at mention grain: every CAUSES side as a
    mention row, linked through its normalized surface."""
    mentions = mentions_from_triples(triples)
    surfaces = (
        mentions.withColumn("surface_norm", normalized_surface("surface"))
        .select("surface_norm", "entity_type")
        .dropDuplicates()
    )
    return mentions, link_surfaces(surfaces, dictionary).cache()


@pytest.fixture(scope="module")
def triples_df(spark, corpus_dir):
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    from remediner_spark.plans.pipeline import default_tagger_bc

    tagger_bc = default_tagger_bc(spark)
    return extract_triples_stage(filter_language(pages), tagger_bc).cache()


@pytest.fixture(scope="module")
def dictionary_df(spark, corpus_dir):
    return spark.read.parquet(f"{corpus_dir}/entity_dictionary.parquet")


def test_dict_linking_exact(spark, dictionary_df):
    # pick one present drug + effect alias from the dictionary itself
    d = dictionary_df.toPandas()
    drug_alias = d[d["entity_type"] == "DRUG"].iloc[0]
    effect_alias = d[d["entity_type"] == "EFFECT"].iloc[0]
    mentions = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["u1", "u2"],
                "warc_ts": pd.to_datetime(["2024-01-01", "2024-01-02"]).astype(
                    "datetime64[us]"
                ),
                "sent_idx": pd.array([0, 0], dtype="int32"),
                # mixed case: the join key is lower(trim(surface))
                "surface": [
                    drug_alias["alias"].upper(),
                    effect_alias["alias"],
                ],
                "entity_type": ["DRUG", "EFFECT"],
            }
        )
    )
    linked = link_mentions(mentions, dictionary_df).toPandas()
    assert (linked["link_method"] == "dict").all()
    assert set(linked["canonical_name"]) == {
        drug_alias["canonical_name"],
        effect_alias["canonical_name"],
    }


def test_lsh_links_typo_variants(spark, dictionary_df):
    # a typo surface absent from the alias list should link via LSH
    mentions = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["u1"],
                "warc_ts": pd.to_datetime(["2024-01-01"]).astype("datetime64[us]"),
                "sent_idx": pd.array([0], dtype="int32"),
                "surface": ["cardiomexiaa"],  # extra char vs 'cardiomexia'
                "entity_type": ["EFFECT"],
            }
        )
    )
    linked = link_mentions(mentions, dictionary_df).toPandas()
    row = linked.iloc[0]
    assert row["link_method"] == "lsh"
    assert row["canonical_name"] == "cardiomexia"


def test_unlinkable_surface_stays_unlinked(spark, dictionary_df):
    mentions = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["u1"],
                "warc_ts": pd.to_datetime(["2024-01-01"]).astype("datetime64[us]"),
                "sent_idx": pd.array([0], dtype="int32"),
                "surface": ["zzqqwwxxyy"],
                "entity_type": ["DRUG"],
            }
        )
    )
    linked = link_mentions(mentions, dictionary_df).toPandas()
    assert linked.iloc[0]["link_method"] == "unlinked"
    assert pd.isna(linked.iloc[0]["canonical_id"])


def test_corpus_linking_coverage(spark, triples_df, dictionary_df):
    mentions = mentions_from_triples(triples_df)
    linked = link_mentions(mentions, dictionary_df)
    counts = {
        r["link_method"]: r["n"]
        for r in linked.groupBy("link_method")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(counts.values())
    assert total == mentions.count()
    # dictionary covers ~85% of lexicon; dict hits dominate
    assert counts.get("dict", 0) / total > 0.6
    # the corpus typo slice must exercise the LSH residual path e2e
    assert counts.get("lsh", 0) > 0


def test_salted_edges_equal_unsalted(spark, triples_df, dictionary_df):
    """build_graph's edges (salted surface-pair aggregation, then the
    surface->id regroup) equal a single-phase groupBy over the
    mention-grain linked triples, sample_urls included."""
    _, surface_links = mention_surface_links(triples_df, dictionary_df)
    _, edges = build_graph(triples_df, dictionary_df, salt_buckets=8)
    salted = (
        edges.toPandas()
        .sort_values(["subj_id", "obj_id"])
        .reset_index(drop=True)
    )
    unsalted = (
        build_edges_unsalted(link_triples(triples_df, surface_links))
        .toPandas()
        .sort_values(["subj_id", "obj_id"])
        .reset_index(drop=True)
    )
    for frame in (salted, unsalted):
        frame["sample_urls"] = frame["sample_urls"].map(list)
    pd.testing.assert_frame_equal(
        salted, unsalted[salted.columns], check_dtype=False
    )


def test_build_graph_end_to_end(spark, triples_df, dictionary_df):
    nodes, edges = build_graph(triples_df, dictionary_df)
    nodes_p = nodes.toPandas()
    edges_p = edges.toPandas()
    assert nodes_p["entity_id"].is_unique
    assert set(nodes_p["entity_type"]) == {"DRUG", "EFFECT"}
    # total mention count equals 2x CAUSES triples (subj + obj)
    n_triples = triples_df.count()
    assert nodes_p["n_mentions"].sum() == 2 * n_triples
    assert edges_p["weight"].sum() == n_triples
    assert (edges_p["sample_urls"].str.len() >= 1).all()
    # Zipf head drug should be a high-weight node
    top = nodes_p[nodes_p["entity_type"] == "DRUG"].nlargest(1, "n_mentions")
    assert top.iloc[0]["n_mentions"] > nodes_p["n_mentions"].median() * 3


def test_dictionary_alias_key_unique(spark, dictionary_df):
    """(alias_norm, entity_type) must be unique: the exact-join and the
    LSH candidate dropDuplicates both assume one canonical per alias
    (otherwise linking would be nondeterministic)."""
    d = dictionary_df.toPandas()
    key = d["alias"].str.lower().str.strip() + "|" + d["entity_type"]
    assert not key.duplicated().any()


def _char_shingles_py(s: str) -> set[str]:
    p = "^" + s + "$"
    return {p[i : i + 3] for i in range(max(len(p) - 3, 0) + 1)}


def test_lsh_recall_vs_exhaustive(spark, triples_df, dictionary_df):
    """Banded MinHash-LSH is probabilistic; this pins that at THIS
    corpus + hash family (R=3, B=8) it resolves every residual surface
    to the same best alias an exhaustive all-pairs Jaccard linker would
    (recall 1.0 — deterministic given the fixed seeds, not flaky)."""
    mentions = mentions_from_triples(triples_df)
    linked = link_mentions(mentions, dictionary_df).toPandas()
    residual = (
        linked[linked["link_method"] != "dict"][
            ["surface_norm", "entity_type", "link_method", "canonical_name"]
        ]
        .drop_duplicates(["surface_norm", "entity_type"])
    )
    assert len(residual) > 0
    d = dictionary_df.toPandas()
    d["alias_norm"] = d["alias"].str.lower().str.strip()
    d = d.drop_duplicates(["alias_norm", "entity_type"])
    alias_sh = {
        (r.alias_norm, r.entity_type): (
            _char_shingles_py(r.alias_norm), r.canonical_name
        )
        for r in d.itertuples(index=False)
    }
    for row in residual.itertuples(index=False):
        ss = _char_shingles_py(row.surface_norm)
        cands = sorted(
            (-len(ss & sh) / len(ss | sh), alias, cname)
            for (alias, etype), (sh, cname) in alias_sh.items()
            if etype == row.entity_type
            and len(ss & sh) / len(ss | sh) >= 0.5
        )
        want = cands[0][2] if cands else None
        got = row.canonical_name if row.link_method == "lsh" else None
        assert got == want, (row.surface_norm, got, want)


def test_nodes_from_edges_equals_build_nodes(spark, triples_df, dictionary_df):
    """build_graph's node table (derived from the edge table by
    nodes_from_edges: one less pass over the triple set) must equal the
    mention-grain build_nodes aggregation row-for-row."""
    mentions, surface_links = mention_surface_links(triples_df, dictionary_df)
    want = (
        build_nodes(attach_surface_links(mentions, surface_links))
        .toPandas().sort_values("entity_id").reset_index(drop=True)
    )
    nodes, _ = build_graph(triples_df, dictionary_df)
    got = nodes.toPandas().sort_values("entity_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)


def test_run_pipeline_link_counts(spark, corpus_dir, dictionary_df, tmp_path):
    """run_pipeline's link_counts (summed surface-pair weights at
    vocabulary grain) equal a per-mention count of the mention-grain
    links, and every CAUSES triple counts one DRUG and one EFFECT
    mention."""
    from remediner_spark.plans.pipeline import run_pipeline
    from remediner_spark.sources.table import read_table

    out = str(tmp_path / "out")
    metrics = run_pipeline(spark, corpus_dir, out, checkpoint=False)
    triples = read_table(spark, f"{out}/triples_out")
    mentions, surface_links = mention_surface_links(triples, dictionary_df)
    want = {
        r["link_method"]: r["n"]
        for r in attach_surface_links(mentions, surface_links)
        .groupBy("link_method")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert metrics["link_counts"] == want
    n_causes = triples.filter(F.col("pred") == "CAUSES").count()
    assert n_causes > 0
    assert sum(metrics["link_counts"].values()) == 2 * n_causes


def test_kg_linked_mentions_extracts_once(spark, tmp_path, monkeypatch):
    """kg_gate._linked materializes the extraction before the linker
    branches it: building the entry runs each extraction partition
    once, and collecting it runs none again."""
    import os

    import remediner_spark.plans.kg_gate as kg_gate

    runs = str(tmp_path)
    extract = kg_gate.q_kg_triples

    def counted(spark, sf_dir):
        df = extract(spark, sf_dir)

        def mark(batches):
            import os
            import uuid

            yield from batches
            open(os.path.join(runs, uuid.uuid4().hex), "w").close()

        return df.mapInPandas(mark, df.schema)

    monkeypatch.setattr(kg_gate, "q_kg_triples", counted)
    n_parts = extract(spark, "").rdd.getNumPartitions()
    linked = kg_gate.q_kg_linked_mentions(spark, "")
    assert len(os.listdir(runs)) == n_parts
    assert len(linked.collect()) > 0
    assert len(os.listdir(runs)) == n_parts
