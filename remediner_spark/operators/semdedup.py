"""SemDeDup: semantic deduplication via embedding clustering.

The Abbas et al. 2023 recipe (used to shrink LAION/web corpora):
k-means-cluster the embedding space, then compare pairs ONLY within a
cluster — cosine above a threshold marks a semantic duplicate, and
one representative per duplicate group survives. Clustering makes the
quadratic step tractable: pairwise work is bounded per cluster, never
corpus-wide (the paper's point; all-pairs cosine at corpus scale is
impossible).

Spark shape:
* cluster assignment — map-side argmin over broadcast centroid
  literals (the IVF quantizer, operators/ivf.py: same seeded fit,
  same 9dp-rounded sequential d2, same materialized-centroid oracle
  contract).
* within-cluster pairs — a self-join that shuffles on cell id only;
  at 100 TB NLIST scales with the corpus (the paper runs 50k clusters
  for LAION) so per-cell candidate sets stay bounded; a degenerate
  hot cell (near-duplicate-saturated crawls produce exactly that)
  takes the ``cell_cap`` star-link guard — cells above the cap only
  compare members against the cell's min-id hub, O(K) work instead of
  O(K^2), the same output-skew mitigation as
  dedup.minhash_pairs(bucket_cap=...). The gate entry runs with the
  cap ON and the DuckDB oracle mirrors the capped decision.
* keeper rule — greedy min-id: a vector is dropped iff a
  smaller-id vector in its cell is cosine-similar; dup_of names the
  smallest such keeper. Deterministic and exactly mirrorable in SQL.
  (The paper keeps the member with LOWEST centroid similarity to
  maximize diversity — one ORDER BY swap away; min-id is kept here so
  the verdict is a pure function of the pair set.)

Exact cross-engine by the ivf discipline: sequential left-to-right
float sums, 9dp d2 rounding before argmin, 6dp cosine rounding before
the threshold compare.
"""

from __future__ import annotations

from ..sources.scan import scan_parquet

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ivf import _D2_DP, _d2_cell_structs, centroids_path, ensure_centroids
from .similarity import _as_double, _cosine

SEM_T = 0.45  # same margin rationale as dedup.COS_T at sf0.01

# Hot-cell guard (r6 verdict #2): cells larger than CELL_CAP give up
# exact within-cell all-pairs and star-link instead — each member is
# compared ONLY against the cell's min-vec_id hub. 60 is a GATE-SCALE
# value picked so BOTH code paths fire cross-engine on the synthetic
# embeddings: the largest cells (73 at sf0.001, 2x78 at sf0.01)
# star-link, while the mid-size cells that carry the actual cosine
# duplicates (n=53/59 and n=22/33/3) keep exact all-pairs, so the
# drop path stays exercised too. A production run sizes the cap to
# executor memory (e.g. 10k). The DuckDB oracle mirrors the same
# capped decision.
CELL_CAP = 60


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = scan_parquet(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    # the fit sees the pristine scan (seeded k-means init is
    # partitioning/order-sensitive); assignment runs over the floored
    # frame
    fit_emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    return semdedup(
        spark, emb, cell_cap=CELL_CAP, cache_key=sf_dir, fit_emb=fit_emb
    )


def semdedup(
    spark: SparkSession, emb: DataFrame,
    cell_cap: int | None = CELL_CAP, cache_key: str | None = None,
    fit_emb: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup verdict over ``emb(vec_id, v)``; ``cell_cap`` is the
    100 TB hot-cell guard (None = exact all-pairs in every cell —
    unsafe on real crawls, kept for the capped-vs-uncapped test).
    ``cache_key`` memoizes the seeded quantizer fit per process (the
    pq._fit_codebooks contract) so bench legs time the dedup path,
    not the training job."""
    centers = ensure_centroids(
        spark, emb if fit_emb is None else fit_emb, cache_key=cache_key
    )
    assigned = emb.withColumn(
        "cell",
        F.array_min(_d2_cell_structs(F.col("v"), centers))["cell"]
        .cast("long"),
    )
    return semdedup_over_cells(assigned, cell_cap)


def semdedup_over_cells(
    assigned: DataFrame, cell_cap: int | None = CELL_CAP
) -> DataFrame:
    """The post-assignment phase over ``assigned(vec_id, v, cell)`` —
    factored out so tools/run_semdedup_cap.py can drive a synthetic
    degenerate-cell assignment directly (re-fitting the quantizer
    there would overwrite the shared oracle centroids side file)."""
    from pyspark.storagelevel import StorageLevel

    # both sides of the cell self-join + the final verdict select
    # read `assigned`; persist so assignment (NLIST d2 aggregates per
    # row) runs once. Bounded (n_vecs x dim doubles), spillable,
    # released by session.release_caches (bench.py calls it between
    # legs) — the minhash band contract.
    assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)

    def pair_cols(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("a.vec_id").alias("aid"),
            F.col("a.v").alias("av"),
            F.col("b.vec_id").alias("bid"),
            F.col("b.v").alias("bv"),
        )

    if cell_cap is None:
        cand = pair_cols(
            assigned.alias("a").join(
                assigned.alias("b"),
                (F.col("a.cell") == F.col("b.cell"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
        )
    else:
        # one extra agg over the persisted assignment: cell sizes +
        # hub (min vec_id). Small cells keep exact all-pairs; a cell
        # above the cap emits only (hub, member) pairs — O(K), so one
        # degenerate k-means cell can no longer go quadratic (the
        # 600M-pair class that killed a JVM in r6's LSH).
        sizes = assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("_n"),
            F.min("vec_id").alias("_hub"),
        )
        tagged = assigned.join(F.broadcast(sizes), "cell")
        small = tagged.filter(F.col("_n") <= cell_cap).select(
            "cell", "vec_id", "v"
        )
        small_pairs = pair_cols(
            small.alias("a").join(
                small.alias("b"),
                (F.col("a.cell") == F.col("b.cell"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
        )
        hubs = tagged.filter(
            (F.col("_n") > cell_cap) & (F.col("vec_id") == F.col("_hub"))
        ).select("cell", "vec_id", "v")
        spokes = tagged.filter(
            (F.col("_n") > cell_cap) & (F.col("vec_id") != F.col("_hub"))
        ).select("cell", "vec_id", "v")
        star_pairs = pair_cols(
            hubs.alias("a").join(
                spokes.alias("b"), F.col("a.cell") == F.col("b.cell")
            )
        )
        cand = small_pairs.unionByName(star_pairs)
    dup = (
        cand.filter(
            F.round(_cosine(F.col("av"), F.col("bv")), 6) >= SEM_T
        )
        .groupBy(F.col("bid").alias("vec_id"))
        .agg(F.min(F.col("aid")).alias("dup_of"))
    )
    return (
        assigned.select("vec_id", "cell")
        .join(dup, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
        )
    )


def sql_semdedup() -> str:
    d2 = (
        f"round(list_sum(list_transform(range(1, len(e.v) + 1), "
        f"i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), {_D2_DP})"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT cell, c FROM read_parquet('{centroids_path()}')),
dist AS (
  SELECT e.vec_id, e.v, c.cell, {d2} AS d2
  FROM e CROSS JOIN cent c),
assigned AS (
  SELECT vec_id, v, CAST(cell AS BIGINT) AS cell FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM dist) WHERE rn = 1),
sizes AS (
  SELECT cell, count(*) AS n, min(vec_id) AS hub
  FROM assigned GROUP BY cell),
tagged AS (
  SELECT a.vec_id, a.v, a.cell, s.n, s.hub
  FROM assigned a JOIN sizes s USING (cell)),
cand AS (
  SELECT a.vec_id AS aid, a.v AS av, b.vec_id AS bid, b.v AS bv
  FROM tagged a JOIN tagged b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE a.n <= {CELL_CAP}
  UNION ALL
  SELECT h.vec_id, h.v, m.vec_id, m.v
  FROM tagged h JOIN tagged m ON h.cell = m.cell
  WHERE h.n > {CELL_CAP} AND h.vec_id = h.hub AND m.vec_id <> m.hub),
dup AS (
  SELECT bid AS vec_id, min(aid) AS dup_of
  FROM cand
  WHERE round(list_cosine_similarity(av, bv), 6) >= {SEM_T}
  GROUP BY bid)
SELECT s.vec_id, s.cell, d.dup_of IS NULL AS keep, d.dup_of
FROM assigned s LEFT JOIN dup d USING (vec_id)"""


QUERIES = {"dedup_semantic": q_semdedup}


def oracles() -> dict[str, str]:
    """Lazy like ivf.oracles(): the SQL embeds the centroid side-file
    path but must not touch the filesystem at import time."""
    return {"dedup_semantic": sql_semdedup()}
