"""Driver-gate entries for the end-to-end KG pipeline, with real
DuckDB oracles.

The Spark side runs the actual engine path over the materialized
corpus fixture (sources/kg_fixture.py): fused extraction ->
dict+MinHash-LSH linking -> salted canonicalization -> node/edge aggs.

The oracle side recomputes the SAME values relationally in DuckDB:

* ``kg_pipeline_triples`` — the pandas gold (annotation-span IOB path,
  an independent derivation from the engine's gazetteer text-matching)
  read from parquet. The normalization/IOB kernels are declaredly
  non-SQL-expressible (Python-re lookarounds), so the gold file is the
  anchor; everything downstream is derived relationally from it.
* ``kg_linked_mentions`` — exact dictionary join + the banded
  MinHash-LSH residual linker re-expressed in DuckDB SQL: the min-hash
  columns and band rows come from the shared kernel's SQL mirror
  (operators/minhash.py, the one document dedup uses too) over
  linking's hash family, with linking's tuning constants imported, so
  the two engines run the same deterministic arithmetic.
  LSH *recall* versus an exhaustive all-pairs Jaccard linker is gated
  separately in tests/test_linking_graph.py.
* ``kg_nodes`` / ``kg_edges`` — canonical-id aggregation over the
  linked mentions / linked triples, with the same md5-prefix synthetic
  id for unlinked surfaces (operators/graph.py:synthetic_entity_id).

Gate projections: array-valued columns (edges.sample_urls) and
nullable canonical ids are projected away or coalesced here — the gate
canonicalizer sorts values and cannot hash lists; the full-width
tables remain what build_graph builds and run_pipeline (its one
program caller that writes them) writes to the real sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import synthetic_entity_id_sql
from ..operators.linking import (
    _HASH_A, _HASH_B, JACCARD_T, LSH_BANDS, LSH_ROWS, SHINGLE_N,
)
from ..operators.minhash import band_rows_sql, base_hash_sql, minhash_cols_sql


# ---------------------------------------------------------------- Spark side


def _fixture_dir() -> str:
    from ..sources.kg_fixture import ensure_kg_fixture

    return ensure_kg_fixture()


def _pages_and_dict(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    d = _fixture_dir()
    return (
        spark.read.parquet(f"{d}/pages.parquet"),
        spark.read.parquet(f"{d}/entity_dictionary.parquet"),
    )


def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ner import extract_triples_stage
    from ..operators.text import filter_language
    from .pipeline import default_tagger_bc

    pages, _ = _pages_and_dict(spark)
    return extract_triples_stage(
        filter_language(pages), default_tagger_bc(spark)
    )


def _linked(spark: SparkSession) -> DataFrame:
    from ..operators.graph import with_entity_ids
    from ..operators.linking import link_mentions, mentions_from_triples

    _, dictionary = _pages_and_dict(spark)
    # materialize before branching: mentions_from_triples and the
    # linker branch the extraction several times, and a lazy cache
    # started those branches as concurrent stages over one unbuilt block
    triples = q_kg_triples(spark, "").localCheckpoint()
    return with_entity_ids(
        link_mentions(mentions_from_triples(triples), dictionary)
    )


def q_kg_linked_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _linked(spark).select(
        "url",
        "warc_ts",
        "sent_idx",
        "surface_norm",
        "entity_type",
        "entity_id",
        "node_name",
        "link_method",
    )


def q_kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import build_graph

    _, dictionary = _pages_and_dict(spark)
    nodes, _ = build_graph(q_kg_triples(spark, ""), dictionary)
    return nodes


def q_kg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import build_graph

    _, dictionary = _pages_and_dict(spark)
    _, edges = build_graph(q_kg_triples(spark, ""), dictionary)
    # gate view: the sample_urls array is deterministic (the exact
    # smallest-k merge, operators/graph._merge_samples) but the gate
    # canonicalizer can't hash list columns — project it through
    # concat_ws
    return edges.select(
        "subj_id",
        "pred",
        "obj_id",
        "weight",
        "first_seen",
        F.concat_ws(",", "sample_urls").alias("sample_urls"),
    )


REL_SCHEMA = (
    "rel_id long, text string, effect string, e_start long, e_end long, "
    "drug string, d_start long, d_end long"
)


def q_s1_pipe_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 literal form: pipe-delimited DRUG-AE.rel scan with the
    reference's positional column mapping (text=v[1], effect=v[2],
    drug=v[5]; /root/reference/ade_corpus_v2/ade_corpus_v2.py:199-218)."""
    d = _fixture_dir()
    return spark.read.csv(
        f"{d}/drug_ae.rel", sep="|", header=False, schema=REL_SCHEMA
    ).select("rel_id", "text", "effect", "drug", "e_start", "d_start")


# bump when a model/glue kernel changes the composed-model output, to
# invalidate the materialized expected-triples parquet
FINAL_MODEL_ORACLE_VERSION = 1


def _final_model():
    """The gate's composed-model configuration — ONE definition shared
    by the Spark query and the driver-side oracle materializer, so the
    two sides can never drift on seeds/shapes."""
    import numpy as np

    from ..kernels.re_head import init_re_head_params
    from ..operators.bert_stub import NumpyBertTagger
    from ..operators.final_model import NumpyFinalModel

    re_max_len = 24
    params = init_re_head_params(
        7, d_in=48, hidden=16, max_len=re_max_len, reduced=24
    )
    params["_d_in"] = np.array([48])
    return NumpyFinalModel(NumpyBertTagger.seeded(), params, re_max_len)


def q_kg_final_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed NER->RE inference (the executed numpy final model,
    operators/final_model.py) over the corpus pages, through the fused
    extraction stage the gazetteer runs in (operators/ner.py): one
    Python hop for segmentation, normalization and the composition.
    Oracle: the neural forwards are not SQL-expressible, so the
    expected triples are materialized by an independent driver-side
    in-process run of the same composition (ensure_final_model_expected)
    and the DuckDB side is a read_parquet of that file — the same
    side-file pattern as the IVF centroids (operators/ivf.py).
    Batch-invariance of the forwards (Spark partitioning ==
    per-sentence driver run) is what makes this sound; it is pinned by
    tests/test_final_model.py."""
    from ..operators.ner import extract_triples_stage
    from ..operators.text import filter_language

    pages, _ = _pages_and_dict(spark)
    model_bc = spark.sparkContext.broadcast(_final_model())
    return extract_triples_stage(filter_language(pages), model_bc).drop(
        "warc_ts"
    )


def final_model_expected_path() -> str:
    """The COMMITTED golden parquet (remediner_spark/resources/).

    Round 3 generated the expected file at gate time from the engine's
    own kernels — which meant a behavior-changing kernel edit would
    regenerate a matching-but-different expected and the gate would
    never notice. The golden is now a committed artifact: the gate
    compares the distributed run against the file as reviewed, and
    tests/test_final_model.py re-derives it in-process and asserts
    equality, so the
    committed bytes can't silently drift from the kernels either.
    Regenerate deliberately with tools/gen_final_model_expected.py
    after an INTENDED behavior change (and bump
    FINAL_MODEL_ORACLE_VERSION)."""
    import os

    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "resources",
        f"final_model_expected_v{FINAL_MODEL_ORACLE_VERSION}.parquet",
    )


def ensure_final_model_expected() -> str:
    import os

    path = final_model_expected_path()
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"committed golden missing: {path} — regenerate with "
            "tools/gen_final_model_expected.py"
        )
    return path


def q_kg_inverse_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAUSES triples + the (effect, TREATED_WITH, drug) inverse view
    the production pipeline writes (operators/ner.with_inverse_triples,
    run_pipeline's triples_out table) — previously written by the
    pipeline but never oracle-gated."""
    from ..operators.ner import with_inverse_triples

    return with_inverse_triples(q_kg_triples(spark, ""))


# bump when pipeline semantics feeding build_graph change, to
# invalidate the materialized edge-table cache. Staleness is not
# silent either way: kg_edges rebuilds the pipeline live every gate
# run, and this query's oracle derives from the gold triples — a
# stale cache hash-mismatches immediately.
EDGES_CACHE_VERSION = 1


def ensure_edges_table(spark: SparkSession) -> str:
    """The MATERIALIZED engine edge table (the shape run_pipeline's
    edges sink writes), built once per fixture+version via the full
    extraction -> linking -> build_graph chain and then read as plain
    parquet. Graph-consumer queries read this instead of re-running
    the whole pipeline per call (the r5 verdict flagged
    kg_degree_distribution's bench wall as ~95% pipeline rebuild)."""
    import os
    import shutil
    import uuid

    d = _fixture_dir()
    out = os.path.join(d, f"edges_cache_v{EDGES_CACHE_VERSION}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    from ..operators.graph import build_graph

    _, dictionary = _pages_and_dict(spark)
    _, edges = build_graph(q_kg_triples(spark, ""), dictionary)
    tmp = out + f".tmp-{uuid.uuid4().hex[:8]}"
    edges.write.mode("overwrite").parquet(tmp)
    try:
        os.rename(tmp, out)
    except OSError:  # lost a build race: the winner's cache is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def q_kg_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG analytics over the materialized graph: out-degree histogram
    of DRUG nodes (how many distinct effects each drug connects to,
    how many drugs sit at each degree, and the mention mass there) —
    the hub-structure profile a graph consumer reads before deciding
    skew strategy. Two key-sized aggregations over the materialized
    edge table (ensure_edges_table)."""
    edges = spark.read.parquet(ensure_edges_table(spark))
    deg = (
        edges.filter(F.col("pred") == "CAUSES")
        .groupBy("subj_id")
        .agg(
            F.count(F.lit(1)).alias("degree"),
            F.sum("weight").alias("_w"),
        )
    )
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_drugs"),
        F.sum("_w").cast("long").alias("total_weight"),
    )


QUERIES = {
    "kg_pipeline_triples": q_kg_triples,
    "kg_inverse_triples": q_kg_inverse_triples,
    "kg_linked_mentions": q_kg_linked_mentions,
    "kg_nodes": q_kg_nodes,
    "kg_edges": q_kg_edges,
    "kg_degree_distribution": q_kg_degree_distribution,
    "kg_final_model_triples": q_kg_final_model,
    "s1_pipe_scan": q_s1_pipe_scan,
}


# --------------------------------------------------------------- oracle side


def _shingle_sql(col: str) -> str:
    """char-3 shingles of '^'+s+'$' — mirrors linking.char_shingles."""
    p = f"('^' || {col} || '$')"
    return (
        f"list_distinct(list_transform("
        f"range(0, greatest(length({p}) - {SHINGLE_N}, 0) + 1), "
        f"i -> substring({p}, i + 1, {SHINGLE_N})))"
    )


def _linked_ctes(d: str) -> str:
    """CTE chain ending in ids(url, warc_ts, sent_idx, surface,
    entity_type, surface_norm, canonical_id, canonical_name,
    link_method, entity_id, node_name)."""
    syn = synthetic_entity_id_sql("surface_norm", "entity_type")
    mh = minhash_cols_sql("sh", "s", base_hash_sql("s"), _HASH_A, _HASH_B)
    rbands = band_rows_sql(
        "rsig", "surface_norm, entity_type, sh", LSH_BANDS, LSH_ROWS
    )
    dbands = band_rows_sql(
        "dsig", "alias_norm, entity_type, canonical_id, canonical_name, sh",
        LSH_BANDS, LSH_ROWS,
    )
    return f"""
g AS (SELECT * FROM read_parquet('{d}/gold_triples.parquet')),
dict AS (
  SELECT lower(trim(alias)) AS alias_norm, canonical_id, canonical_name,
         entity_type
  FROM read_parquet('{d}/entity_dictionary.parquet')),
mentions AS (
  SELECT url, warc_ts, sent_idx, subj AS surface, 'DRUG' AS entity_type
  FROM g WHERE pred = 'CAUSES'
  UNION ALL
  SELECT url, warc_ts, sent_idx, obj AS surface, 'EFFECT' AS entity_type
  FROM g WHERE pred = 'CAUSES'),
m AS (SELECT *, lower(trim(surface)) AS surface_norm FROM mentions),
exact AS (
  SELECT m.url, m.warc_ts, m.sent_idx, m.surface, m.entity_type,
         m.surface_norm, dict.canonical_id, dict.canonical_name
  FROM m LEFT JOIN dict
    ON m.surface_norm = dict.alias_norm
   AND m.entity_type = dict.entity_type),
residual_surf AS (
  SELECT DISTINCT surface_norm, entity_type
  FROM exact WHERE canonical_id IS NULL),
rs AS (SELECT surface_norm, entity_type,
              {_shingle_sql("surface_norm")} AS sh
       FROM residual_surf),
rsig AS (SELECT surface_norm, entity_type, sh, {mh} FROM rs),
rbands AS ({rbands}),
da AS (SELECT alias_norm, entity_type, canonical_id, canonical_name,
              {_shingle_sql("alias_norm")} AS sh
       FROM (SELECT DISTINCT alias_norm, entity_type, canonical_id,
                    canonical_name FROM dict)),
dsig AS (SELECT alias_norm, entity_type, canonical_id, canonical_name,
                sh, {mh} FROM da),
dbands AS ({dbands}),
cand AS (
  SELECT DISTINCT r.surface_norm, r.entity_type, a.alias_norm,
         a.canonical_id, a.canonical_name,
         len(list_intersect(r.sh, a.sh)) * 1.0 /
           len(list_distinct(list_concat(r.sh, a.sh))) AS jaccard
  FROM rbands r JOIN dbands a
    ON r.band_idx = a.band_idx AND r.band_key = a.band_key
   AND r.entity_type = a.entity_type),
best AS (
  SELECT surface_norm, entity_type, canonical_id, canonical_name
  FROM (SELECT *, row_number() OVER (
            PARTITION BY surface_norm, entity_type
            ORDER BY jaccard DESC, alias_norm) AS rnk
        FROM cand WHERE jaccard >= {JACCARD_T})
  WHERE rnk = 1),
linked AS (
  SELECT url, warc_ts, sent_idx, surface, entity_type, surface_norm,
         canonical_id, canonical_name, 'dict' AS link_method
  FROM exact WHERE canonical_id IS NOT NULL
  UNION ALL
  SELECT e.url, e.warc_ts, e.sent_idx, e.surface, e.entity_type,
         e.surface_norm, b.canonical_id, b.canonical_name,
         CASE WHEN b.canonical_id IS NOT NULL THEN 'lsh'
              ELSE 'unlinked' END AS link_method
  FROM (SELECT url, warc_ts, sent_idx, surface, entity_type, surface_norm
        FROM exact WHERE canonical_id IS NULL) e
  LEFT JOIN best b
    ON e.surface_norm = b.surface_norm
   AND e.entity_type = b.entity_type),
ids AS (
  SELECT *, COALESCE(canonical_id, {syn}) AS entity_id,
         COALESCE(canonical_name, surface_norm) AS node_name
  FROM linked)"""


def oracles() -> dict[str, str]:
    d = _fixture_dir()
    ctes = _linked_ctes(d)
    fm_path = ensure_final_model_expected()
    return {
        "kg_final_model_triples": (
            f"SELECT url, sent_idx, subj, pred, obj "
            f"FROM read_parquet('{fm_path}')"
        ),
        "s1_pipe_scan": f"""
SELECT rel_id, text, effect, drug, e_start, d_start
FROM read_csv('{d}/drug_ae.rel', delim='|', header=false, quote='',
              columns={{'rel_id': 'BIGINT', 'text': 'VARCHAR',
                        'effect': 'VARCHAR', 'e_start': 'BIGINT',
                        'e_end': 'BIGINT', 'drug': 'VARCHAR',
                        'd_start': 'BIGINT', 'd_end': 'BIGINT'}})""",
        "kg_pipeline_triples": (
            f"SELECT url, warc_ts, sent_idx, subj, pred, obj "
            f"FROM read_parquet('{d}/gold_triples.parquet')"
        ),
        "kg_inverse_triples": f"""
SELECT url, warc_ts, sent_idx, subj, pred, obj
FROM read_parquet('{d}/gold_triples.parquet')
UNION ALL
SELECT url, warc_ts, sent_idx, obj AS subj,
       'TREATED_WITH' AS pred, subj AS obj
FROM read_parquet('{d}/gold_triples.parquet')""",
        "kg_linked_mentions": f"""
WITH {ctes}
SELECT url, warc_ts, sent_idx, surface_norm, entity_type, entity_id,
       node_name, link_method
FROM ids""",
        "kg_nodes": f"""
WITH {ctes}
SELECT entity_id, min(node_name) AS canonical_name,
       min(entity_type) AS entity_type, count(*) AS n_mentions
FROM ids GROUP BY entity_id""",
        "kg_edges": f"""
WITH {ctes},
surf_map AS (SELECT DISTINCT surface_norm, entity_type, entity_id FROM ids)
SELECT dm.entity_id AS subj_id, g.pred, em.entity_id AS obj_id,
       count(*) AS weight, min(g.warc_ts) AS first_seen,
       array_to_string(
           list_slice(list_sort(list_distinct(list(g.url))), 1, 5),
           ',') AS sample_urls
FROM g
JOIN surf_map dm
  ON dm.surface_norm = g.subj AND dm.entity_type = 'DRUG'
JOIN surf_map em
  ON em.surface_norm = g.obj AND em.entity_type = 'EFFECT'
WHERE g.pred = 'CAUSES'
GROUP BY 1, 2, 3""",
        "kg_degree_distribution": f"""
WITH {ctes},
surf_map AS (SELECT DISTINCT surface_norm, entity_type, entity_id FROM ids),
e AS (
  SELECT dm.entity_id AS subj_id, em.entity_id AS obj_id,
         count(*) AS weight
  FROM g
  JOIN surf_map dm
    ON dm.surface_norm = g.subj AND dm.entity_type = 'DRUG'
  JOIN surf_map em
    ON em.surface_norm = g.obj AND em.entity_type = 'EFFECT'
  WHERE g.pred = 'CAUSES'
  GROUP BY 1, 2),
deg AS (
  SELECT subj_id, count(*) AS degree, sum(weight) AS w
  FROM e GROUP BY subj_id)
SELECT CAST(degree AS BIGINT) AS degree,
       CAST(count(*) AS BIGINT) AS n_drugs,
       CAST(sum(w) AS BIGINT) AS total_weight
FROM deg GROUP BY degree""",
    }
