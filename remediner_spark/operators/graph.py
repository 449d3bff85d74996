"""Graph materialization (M9): canonicalized node/edge tables.

Head entities (common drugs, Zipf-skewed by construction in the
corpus) make the final groupBy hot-keyed. count/sum aggregations get
map-side partial aggregation from Spark automatically, but
``collect_set`` (sample URLs) does not reduce skew — one reducer still
receives every instance of the head key. Per the north rule
(BASELINE.json:14, "skew handled explicitly") the one corpus-grain
aggregation here (surface_pairs) runs **salted two-phase**: stage 1
groups on (surface pair, salt) with bounded partial sets, stage 2
merges the S partials per pair. Everything after it — linking, the
surface->id merge, nodes — runs on vocabulary-sized tables
(graph_frames). Equality with the unsalted plan is asserted in tests.

Output schemas (FIXTURES.md §4):
    nodes(entity_id, canonical_name, entity_type, n_mentions)
    edges(subj_id, pred, obj_id, weight, first_seen, sample_urls)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .linking import link_surfaces
from .textstats import md5_hash60_expr, md5_hash60_sql

# salt buckets bound how many tasks a hot key's partial state can
# spread over, so size them >= the parallelism you want the straggler
# flattened across (tools/run_skew.py measured 16 salts leaving a
# 3.5x straggler on 32 cores that 32 salts eliminated). Cold keys pay
# only a few extra tiny stage-2 rows per key.
DEFAULT_SALT_BUCKETS = 32
SAMPLE_URLS = 5


def _salt(buckets: int):
    # deterministic salt from lineage key (url) so retries are stable
    return F.pmod(F.crc32(F.col("url")), F.lit(buckets)).alias("_salt")


def synthetic_entity_id(surface_norm: Column, entity_type: Column) -> Column:
    """Stable negative id for unlinked mentions. md5-prefix based (not
    xxhash64) so DuckDB oracles and pandas gold reproduce it bit-for-bit;
    60-bit prefix (textstats.md5_hash60_expr) because a 32-bit id space
    would silently merge unrelated surfaces into one node at web scale
    (~50% birthday collision at ~77k distinct keys). +1 keeps it
    disjoint from 0 and from the positive canonical-id space."""
    return -(
        md5_hash60_expr(F.concat(surface_norm, F.lit("|"), entity_type)) + 1
    )


def synthetic_entity_id_sql(surface_norm: str, entity_type: str) -> str:
    """DuckDB rendering of synthetic_entity_id (same md5-prefix hash)."""
    h = md5_hash60_sql(f"({surface_norm} || '|' || {entity_type})")
    return f"-({h} + 1)"


def with_entity_ids(linked_mentions: DataFrame) -> DataFrame:
    """linked mentions + (entity_id, node_name).

    Unlinked mentions (no canonical_id) get a stable negative synthetic
    id from their normalized surface so the graph stays connected.
    """
    return linked_mentions.withColumn(
        "entity_id",
        F.coalesce(
            F.col("canonical_id"),
            synthetic_entity_id(F.col("surface_norm"), F.col("entity_type")),
        ),
    ).withColumn(
        "node_name", F.coalesce(F.col("canonical_name"), F.col("surface_norm"))
    )


def _merge_samples(partials: DataFrame, keys: list[str]) -> DataFrame:
    """Merge (weight, first_seen, sample_urls) rows per ``keys``:
    summed weight, earliest first_seen, and the SAMPLE_URLS smallest
    urls of the union of the partial samples. Every partial keeps its
    own smallest-k, so the merged smallest-k is exact (any url of the
    global smallest-k is in its partial's smallest-k) regardless of
    partition arrival order — reproducible across retries and cluster
    layouts, and oracle-checkable."""
    return partials.groupBy(*keys).agg(
        F.sum("weight").alias("weight"),
        F.min("first_seen").alias("first_seen"),
        F.slice(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("sample_urls")))
            ),
            1,
            SAMPLE_URLS,
        ).alias("sample_urls"),
    )


def surface_pairs(
    triples: DataFrame, salt_buckets: int = DEFAULT_SALT_BUCKETS
) -> DataFrame:
    """CAUSES triples (subj, obj, url, warc_ts) -> one row per (subj,
    obj) surface pair with its weight, first_seen and sample_urls: the
    only corpus-grain work of the graph build.

    Salted two-phase: per-(pair, salt) partials keep collect_set
    bounded (each keeps only its SAMPLE_URLS smallest urls), then
    _merge_samples runs over at most `salt_buckets` rows per pair.
    Sampling is DETERMINISTIC: the lexicographically smallest
    SAMPLE_URLS urls of the pair."""
    partial = (
        triples.filter(F.col("pred") == "CAUSES")
        .withColumn("_salt", _salt(salt_buckets))
        .groupBy("subj", "obj", "_salt")
        .agg(
            F.count(F.lit(1)).alias("weight"),
            F.min("warc_ts").alias("first_seen"),
            F.slice(
                F.array_sort(F.collect_set("url")), 1, SAMPLE_URLS
            ).alias("sample_urls"),
        )
    )
    return _merge_samples(partial, ["subj", "obj"])


def _pair_surfaces(pairs: DataFrame) -> DataFrame:
    """surface pairs -> (surface_norm, entity_type, weight), one row
    per side: subj as DRUG, obj as EFFECT."""
    side = F.array(
        F.struct(
            F.col("subj").alias("surface_norm"),
            F.lit("DRUG").alias("entity_type"),
            "weight",
        ),
        F.struct(
            F.col("obj").alias("surface_norm"),
            F.lit("EFFECT").alias("entity_type"),
            "weight",
        ),
    )
    return pairs.select(F.inline(side))


def build_edges(pairs: DataFrame, surface_links: DataFrame) -> DataFrame:
    """surface pairs + the vocabulary-grain link table -> edges(subj_id,
    pred, obj_id, weight, first_seen, sample_urls).

    Surfaces map to ids through broadcast DRUG/EFFECT maps; alias
    surfaces of one canonical entity share an id, so the pairs regroup
    per id pair through the same exact smallest-k merge."""
    ids = with_entity_ids(surface_links)
    drugs = ids.filter(F.col("entity_type") == "DRUG").select(
        F.col("surface_norm").alias("subj"), F.col("entity_id").alias("subj_id")
    )
    effects = ids.filter(F.col("entity_type") == "EFFECT").select(
        F.col("surface_norm").alias("obj"), F.col("entity_id").alias("obj_id")
    )
    linked = pairs.join(F.broadcast(drugs), "subj").join(
        F.broadcast(effects), "obj"
    )
    return _merge_samples(linked, ["subj_id", "obj_id"]).select(
        "subj_id", F.lit("CAUSES").alias("pred"), "obj_id",
        "weight", "first_seen", "sample_urls",
    )


def nodes_from_edges(
    edges: DataFrame, surface_links: DataFrame
) -> DataFrame:
    """Derive the node table from the (tiny, already-aggregated) edge
    table: every CAUSES triple contributes exactly one subj DRUG
    mention and one obj EFFECT mention, so a node's n_mentions equals
    the sum of its edges' weights — subj side for drugs, obj side for
    effects. An agg over edge rows (entity-pair-vocabulary-sized)
    instead of a pass over the triple set, same values bit-for-bit
    (tests/test_linking_graph.py keeps the mention-grain build_nodes
    as the referee and pins them equal). Names/types come from the
    broadcast id->name map derived from the vocabulary-grain link
    table."""
    id_map = (
        with_entity_ids(surface_links)
        # aliases of one canonical id all carry the same name/type, and
        # synthetic ids are 1:1 with surfaces — the dedup is value-safe
        .dropDuplicates(["entity_id"])
        .select("entity_id", "node_name", "entity_type")
    )
    per_side = F.array(
        F.struct(F.col("subj_id").alias("entity_id")),
        F.struct(F.col("obj_id").alias("entity_id")),
    )
    counts = (
        edges.select(F.col("weight"), F.explode(per_side).alias("e"))
        .groupBy("e.entity_id")
        .agg(F.sum("weight").alias("n_mentions"))
    )
    return counts.join(F.broadcast(id_map), "entity_id").select(
        "entity_id", F.col("node_name").alias("canonical_name"),
        "entity_type", "n_mentions",
    )


def graph_frames(
    triples: DataFrame,
    dictionary: DataFrame,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """triples + dictionary -> (nodes, edges, surface pairs, link
    table), the last three cached.

    Single-pass surface-first formulation: the only corpus-grain work
    is one salted aggregation keyed by (subj, obj) surface pair —
    triples are consumed as a stream (no cache), and linking,
    id-merging and nodes all run on vocabulary-sized tables after the
    aggregation. `triples` may be a lazy extraction stage (the agg
    fuses into its job) or a checkpointed parquet (plans/pipeline.py).
    No corpus-sized intermediate is ever cached (caching the triples
    and scanning them twice measured ~10.5s vs ~9s cold at sf0.1/32c).
    """
    pairs = surface_pairs(triples, salt_buckets).cache()
    surfaces = (
        _pair_surfaces(pairs)
        .select("surface_norm", "entity_type")
        .dropDuplicates()
    )
    surface_links = link_surfaces(surfaces, dictionary).cache()
    edges = build_edges(pairs, surface_links).cache()
    nodes = nodes_from_edges(edges, surface_links)
    return nodes, edges, pairs, surface_links


def build_graph(
    triples: DataFrame,
    dictionary: DataFrame,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
) -> tuple[DataFrame, DataFrame]:
    """Full M7->M9 path: triples + dictionary -> (nodes, edges)."""
    return graph_frames(triples, dictionary, salt_buckets)[:2]


def link_counts(pairs: DataFrame, surface_links: DataFrame) -> dict:
    """Mentions per link method, at vocabulary grain: a surface's
    mention count is the summed weight of the surface pairs it appears
    in (each CAUSES triple is one DRUG and one EFFECT mention)."""
    rows = (
        _pair_surfaces(pairs)
        .join(F.broadcast(surface_links), ["surface_norm", "entity_type"])
        .groupBy("link_method")
        .agg(F.sum("weight").alias("n"))
        .collect()
    )
    return {r["link_method"]: r["n"] for r in rows}
