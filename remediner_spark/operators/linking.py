"""Entity linking: broadcast dictionary join + MinHash-LSH residual.

M7 (SURVEY.md §2.4): mentions join a broadcast canonical dictionary on
normalized surface form — a map-side hash join, no shuffle of the big
side.

M8: surfaces the dictionary misses (typos, variants) go through a
MinHash-LSH similarity join against the dictionary aliases:

    char-3-shingles -> K = 24 min-hashes -> 8 bands of 3 rows ->
    band-key equi-join -> exact Jaccard verify -> best alias per surface
    (one struct-min aggregation: highest Jaccard, then smallest alias)

Signatures and bands come from the MinHash-LSH kernel document dedup
runs too (operators/minhash.py). Everything is built-in Catalyst
expressions (md5/transform/array_min/array_intersect) —
whole-stage-codegen friendly, zero Python workers.
The band join is an equi-join on (band_idx, band_key), so Spark
shuffles only the tiny residual set and the dictionary, never the
corpus. At 100 TB the residual is bounded by distinct unresolved
surfaces (vocabulary-sized, not corpus-sized) because linking runs on
`distinct(surface)`, not on mention instances.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .minhash import band_table, base_hashes

# LSH parameters: K = LSH_BANDS * LSH_ROWS = 24 min-hashes over char-3
# shingles. Pairs with Jaccard s collide in some band with prob
# 1-(1-s^3)^8 (~0.97 at s=0.7, ~0.89 at s=0.625 = the one-char-insert
# typo class, ~0.06 at s=0.2) — tuned for typo-distance aliases with
# low false-candidate volume; candidates verify at JACCARD_T. The
# DuckDB oracle (plans/kg_gate.py) imports these, never restates them.
SHINGLE_N = 3
LSH_BANDS = 8
LSH_ROWS = 3
JACCARD_T = 0.5
_HASH_A = [2654435761, 2246822519, 3266489917, 668265263, 374761393,
           2654435789, 2246822591, 3266489989, 668265341, 374761471,
           2654435843, 2246822647, 3266490043, 668265399, 374761523,
           2654435887, 2246822699, 3266490107, 668265463, 374761561,
           2654435921, 2246822741, 3266490169, 668265529]
_HASH_B = [b * 7919 + 17 for b in range(len(_HASH_A))]


def normalized_surface(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(c))


def char_shingles(col: Column) -> Column:
    """Distinct character 3-grams of a padded surface, array<string>."""
    padded = F.concat(F.lit("^"), col, F.lit("$"))
    idx = F.sequence(F.lit(0), F.greatest(F.length(padded) - SHINGLE_N, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: padded.substr(i + 1, F.lit(SHINGLE_N)))
    )


def _lsh_bands(df: DataFrame, surface_col: str) -> DataFrame:
    """df + ``shingles``, one row per LSH band (band_idx, band_key)."""
    sh = df.withColumn("shingles", char_shingles(F.col(surface_col)))
    return band_table(
        sh.withColumn("_mh_base", base_hashes(F.col("shingles"))),
        "_mh_base", _HASH_A, _HASH_B, LSH_BANDS, LSH_ROWS,
    )


def link_surfaces(surfaces: DataFrame, dictionary: DataFrame) -> DataFrame:
    """DISTINCT (surface_norm, entity_type) rows -> + (canonical_id,
    canonical_name, link_method in {dict, lsh, unlinked}).

    The whole linking decision is a function of the distinct surface,
    so it runs at VOCABULARY grain — corpus size never enters. The one
    KG-construction path (graph.graph_frames, behind build_graph and
    run_pipeline) links the distinct surfaces of its surface-pair
    table and broadcasts the result into the surface->id merge;
    attach_surface_links broadcasts it back onto mention rows. At
    100 TB that's the only shape that works, and at bench scale it
    removed a 4.2M-row mention-grain cache from the graph pipeline."""
    d = dictionary.withColumn("alias_norm", normalized_surface("alias"))
    # cache: `exact` feeds the residual side and the final join, and AQE
    # does not reuse the two copies' input exchange and dictionary
    # broadcast. Vocabulary grain; session.release_caches frees it.
    exact = surfaces.alias("m").join(
        F.broadcast(d.alias("d")),
        (F.col("m.surface_norm") == F.col("d.alias_norm"))
        & (F.col("m.entity_type") == F.col("d.entity_type")),
        "left",
    ).select(
        "m.*",
        F.col("d.canonical_id").alias("canonical_id"),
        F.col("d.canonical_name").alias("canonical_name"),
    ).cache()

    res_surfaces = (
        exact.filter(F.col("canonical_id").isNull())
        .select("surface_norm", "entity_type")
    )
    res_sig = _lsh_bands(res_surfaces, "surface_norm")
    dict_sig = _lsh_bands(
        d.select("alias_norm", "entity_type", "canonical_id",
                 "canonical_name").dropDuplicates(["alias_norm", "entity_type"]),
        "alias_norm",
    )
    cand = (
        res_sig.alias("r")
        .join(
            F.broadcast(dict_sig.alias("a")),
            (F.col("r.band_idx") == F.col("a.band_idx"))
            & (F.col("r.band_key") == F.col("a.band_key"))
            & (F.col("r.entity_type") == F.col("a.entity_type")),
        )
        .select(
            F.col("r.surface_norm").alias("surface_norm"),
            F.col("r.entity_type").alias("entity_type"),
            F.col("r.shingles").alias("s_r"),
            F.col("a.alias_norm").alias("alias_norm"),
            F.col("a.shingles").alias("s_a"),
            F.col("a.canonical_id").alias("canonical_id"),
            F.col("a.canonical_name").alias("canonical_name"),
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("s_r", "s_a"))
            / F.size(F.array_union("s_r", "s_a")),
        )
        .filter(F.col("jaccard") >= JACCARD_T)
    )
    # ONE shuffle picks the winner. The reference semantics are
    # "ORDER BY jaccard DESC, alias_norm, take first" (the DuckDB
    # oracle's row_number mirror); min over struct(-jaccard,
    # alias_norm, ...) selects exactly that row, and the band join's
    # per-band duplicate candidates are harmless — duplicates of a
    # (surface, alias) pair carry identical jaccard/canonical fields,
    # so the min is unchanged. This replaces the former
    # dropDuplicates + window pair (two vocabulary-grain shuffles +
    # a sort) with a single partial-aggregated exchange.
    best = (
        cand.groupBy("surface_norm", "entity_type")
        .agg(
            F.min(
                F.struct(
                    (-F.col("jaccard")).alias("_nj"),
                    F.col("alias_norm").alias("_a"),
                    F.col("canonical_id").alias("_id"),
                    F.col("canonical_name").alias("_name"),
                )
            ).alias("_w")
        )
        .select(
            "surface_norm", "entity_type",
            F.col("_w._id").alias("lsh_id"),
            F.col("_w._name").alias("lsh_name"),
        )
    )
    # exact output + the (tiny) best-LSH table + a CASE. Dict hits keep
    # their ids (an LSH candidate can't override — `best` only holds
    # surfaces the dict missed); residual surfaces take the LSH match
    # or stay unlinked.
    base_cols = [c for c in exact.columns if c not in
                 ("canonical_id", "canonical_name")]
    return (
        exact.join(F.broadcast(best), ["surface_norm", "entity_type"], "left")
        .select(
            *base_cols,
            F.coalesce("canonical_id", "lsh_id").alias("canonical_id"),
            F.coalesce("canonical_name", "lsh_name").alias("canonical_name"),
            F.when(F.col("canonical_id").isNotNull(), F.lit("dict"))
            .when(F.col("lsh_id").isNotNull(), F.lit("lsh"))
            .otherwise(F.lit("unlinked"))
            .alias("link_method"),
        )
    )


def attach_surface_links(
    mentions: DataFrame, surface_links: DataFrame
) -> DataFrame:
    """Broadcast the vocabulary-grain link table back onto mention
    rows: adds surface_norm + (canonical_id, canonical_name,
    link_method). surface_links must cover every mention surface
    (it does when built from the same mentions' distinct surfaces)."""
    m = mentions.withColumn("surface_norm", normalized_surface("surface"))
    return m.join(
        F.broadcast(surface_links), ["surface_norm", "entity_type"], "left"
    ).select(
        *mentions.columns, "surface_norm",
        "canonical_id", "canonical_name", "link_method",
    )


def link_mentions(mentions: DataFrame, dictionary: DataFrame) -> DataFrame:
    """mentions(surface, entity_type, ...) -> + (canonical_id,
    canonical_name, link_method in {dict, lsh, unlinked}).

    dictionary: (alias, canonical_id, canonical_name, entity_type),
    assumed dimension-sized -> broadcast. Composition of the two
    vocabulary-grain stages: distinct surfaces -> link_surfaces ->
    broadcast back onto the mention grain (two passes over the big
    side total: the distinct agg and the final join)."""
    surfaces = (
        mentions.withColumn("surface_norm", normalized_surface("surface"))
        .select("surface_norm", "entity_type")
        .dropDuplicates()
    )
    return attach_surface_links(mentions, link_surfaces(surfaces, dictionary))


def mentions_from_triples(triples: DataFrame) -> DataFrame:
    """CAUSES triples -> mention rows (url, warc_ts, sent_idx, surface,
    entity_type): subj as DRUG, obj as EFFECT, via a single-pass
    explode (a subj/obj union would scan the triples twice)."""
    pair = F.array(
        F.struct(F.col("subj").alias("surface"),
                 F.lit("DRUG").alias("entity_type")),
        F.struct(F.col("obj").alias("surface"),
                 F.lit("EFFECT").alias("entity_type")),
    )
    return (
        triples.filter(F.col("pred") == "CAUSES")
        .select("url", "warc_ts", "sent_idx", F.explode(pair).alias("m"))
        .select("url", "warc_ts", "sent_idx", "m.surface", "m.entity_type")
    )
