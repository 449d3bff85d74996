"""Graph materialization (M9): canonicalized node/edge tables.

Head entities (common drugs, Zipf-skewed by construction in the
corpus) make the final groupBy hot-keyed. count/sum aggregations get
map-side partial aggregation from Spark automatically, but
``collect_set`` (sample URLs) does not reduce skew — one reducer still
receives every instance of the head key. Per the north rule
(BASELINE.json:14, "skew handled explicitly") the aggregations here run
**salted two-phase**: stage 1 groups on (key, salt) with bounded
partial sets, stage 2 merges the S partials per key. Equality with the
unsalted plan is asserted in tests.

Output schemas (FIXTURES.md §4):
    nodes(entity_id, canonical_name, entity_type, n_mentions)
    edges(subj_id, pred, obj_id, weight, first_seen, sample_urls)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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


def build_edges(
    linked_triples: DataFrame, salt_buckets: int = DEFAULT_SALT_BUCKETS
) -> DataFrame:
    """linked triples (subj_id, pred, obj_id, url, warc_ts) -> edges.

    Salted two-phase: per-(edge, salt) partials keep collect_set bounded
    (each partial keeps only its SAMPLE_URLS smallest urls before the
    merge), then a cheap second agg over at most `salt_buckets` rows
    per edge. Sampling is DETERMINISTIC (the lexicographically smallest
    SAMPLE_URLS urls of the edge): every partial retains its local
    smallest-k, so the merged smallest-k is exact regardless of
    partition arrival order — reproducible across retries and cluster
    layouts, and oracle-checkable.
    """
    partial = (
        linked_triples.withColumn("_salt", _salt(salt_buckets))
        .groupBy("subj_id", "pred", "obj_id", "_salt")
        .agg(
            F.count(F.lit(1)).alias("_w"),
            F.min("warc_ts").alias("_first"),
            F.slice(
                F.array_sort(F.collect_set("url")), 1, SAMPLE_URLS
            ).alias("_urls"),
        )
    )
    return partial.groupBy("subj_id", "pred", "obj_id").agg(
        F.sum("_w").alias("weight"),
        F.min("_first").alias("first_seen"),
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("_urls")))),
            1,
            SAMPLE_URLS,
        ).alias("sample_urls"),
    )


def nodes_from_edges(
    edges: DataFrame, surface_links: DataFrame
) -> DataFrame:
    """Derive the node table from the (tiny, already-aggregated) edge
    table: every CAUSES triple contributes exactly one subj DRUG
    mention and one obj EFFECT mention, so a node's n_mentions equals
    the sum of its edges' weights — subj side for drugs, obj side for
    effects. This replaces a full pass over the triple set with an agg
    over edge rows (entity-pair-vocabulary-sized), same values
    bit-for-bit (tests/test_linking_graph.py keeps the mention-grain
    build_nodes as the referee and pins them equal). Names/types come
    from the broadcast id->name map derived from the vocabulary-grain
    link table."""
    id_map = (
        surface_links.withColumn(
            "entity_id",
            F.coalesce(
                F.col("canonical_id"),
                synthetic_entity_id(F.col("surface_norm"), F.col("entity_type")),
            ),
        )
        .withColumn(
            "node_name",
            F.coalesce(F.col("canonical_name"), F.col("surface_norm")),
        )
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


def link_triples(triples: DataFrame, linked_mentions: DataFrame) -> DataFrame:
    """Attach canonical subj_id/obj_id to CAUSES triples via broadcast
    surface->id maps (vocabulary-sized). Accepts either grain as the
    link table: mention-grain link_mentions output or the distinct
    link_surfaces table (both carry surface_norm/entity_type/
    canonical_id) — the dropDuplicates collapses to the same map."""
    surf_map = (
        linked_mentions.withColumn(
            "entity_id",
            F.coalesce(
                F.col("canonical_id"),
                synthetic_entity_id(F.col("surface_norm"), F.col("entity_type")),
            ),
        )
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


def build_graph(
    triples: DataFrame,
    dictionary: DataFrame,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
) -> tuple[DataFrame, DataFrame]:
    """Full M7->M9 path: triples + dictionary -> (nodes, edges).

    Single-pass surface-first formulation: the only corpus-grain work
    is one salted aggregation keyed by (subj, obj) surface pair —
    triples are consumed as a stream (no cache), and linking,
    id-merging and nodes all run on vocabulary-sized tables after the
    aggregation. `triples` may be a lazy extraction stage (the agg
    fuses into its job) or a checkpointed parquet (plans/pipeline.py).
    """
    # ONE pass over the triple stream, no corpus-grain cache anywhere:
    # the salted aggregation runs keyed by SURFACE pair first (fused
    # into the same job as extraction when triples is a lazy stage),
    # producing a surface-pair-vocabulary-sized table. Everything
    # after — distinct surfaces, linking, the surface->id merge, and
    # nodes — operates on vocabulary-sized inputs. Versus the previous
    # cache-triples-then-scan-twice plan this removes the 2.1M-row
    # cache write and a second full pass (cold wall ~10.5s -> ~9s at
    # sf0.1/32c, where the residue is the salted collect_set agg plus
    # ~10 small sequential AQE stages); at 10^12 docs the win is
    # structural — no trillion-row intermediate is ever cached, and
    # executor storage stays free for the operators that need it.
    # The surface->id merge
    # re-aggregates because alias surfaces can map to one canonical
    # pair; smallest-k union of per-pair smallest-k keeps sample_urls
    # exact (any global top-k url is in its pair's top-k), pinned by
    # the test equality with the mention-grain build_nodes/build_edges.
    t = triples.filter(F.col("pred") == "CAUSES")
    partial = (
        t.withColumn("_salt", _salt(salt_buckets))
        .groupBy("subj", "obj", "_salt")
        .agg(
            F.count(F.lit(1)).alias("_w"),
            F.min("warc_ts").alias("_first"),
            F.slice(
                F.array_sort(F.collect_set("url")), 1, SAMPLE_URLS
            ).alias("_urls"),
        )
    )
    surface_edges = partial.groupBy("subj", "obj").agg(
        F.sum("_w").alias("_w"),
        F.min("_first").alias("_first"),
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("_urls")))),
            1,
            SAMPLE_URLS,
        ).alias("_urls"),
    ).cache()

    from .linking import link_surfaces

    surfaces = (
        surface_edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("subj").alias("surface_norm"),
                        F.lit("DRUG").alias("entity_type"),
                    ),
                    F.struct(
                        F.col("obj").alias("surface_norm"),
                        F.lit("EFFECT").alias("entity_type"),
                    ),
                )
            ).alias("s")
        )
        .select("s.surface_norm", "s.entity_type")
        .dropDuplicates()
    )
    surface_links = link_surfaces(surfaces, dictionary).cache()
    id_map = surface_links.withColumn(
        "entity_id",
        F.coalesce(
            F.col("canonical_id"),
            synthetic_entity_id(F.col("surface_norm"), F.col("entity_type")),
        ),
    )
    drugs = id_map.filter(F.col("entity_type") == "DRUG").select(
        F.col("surface_norm").alias("subj"), F.col("entity_id").alias("subj_id")
    )
    effects = id_map.filter(F.col("entity_type") == "EFFECT").select(
        F.col("surface_norm").alias("obj"), F.col("entity_id").alias("obj_id")
    )
    edges = (
        surface_edges.join(F.broadcast(drugs), "subj")
        .join(F.broadcast(effects), "obj")
        .groupBy("subj_id", "obj_id")
        .agg(
            F.sum("_w").alias("weight"),
            F.min("_first").alias("first_seen"),
            F.slice(
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list("_urls")))
                ),
                1,
                SAMPLE_URLS,
            ).alias("sample_urls"),
        )
        .select(
            "subj_id", F.lit("CAUSES").alias("pred"), "obj_id",
            "weight", "first_seen", "sample_urls",
        )
        .cache()
    )
    nodes = nodes_from_edges(edges, surface_links)
    return nodes, edges
