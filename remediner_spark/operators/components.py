"""Connected components via alternating large-star/small-star.

The clustering primitive behind M8's residual canonicalization
(SURVEY.md: "connected components via iterative self-join") and
near-duplicate cluster collapse: given an undirected pair list, every
vertex converges to the minimum vertex id reachable from it.

Scale notes: each round is two join+agg passes (shuffles on vertex
id) and the round count is O(log n), independent of the graph's
diameter. `localCheckpoint` truncates the lineage each round so plans
don't grow with iterations.

The DuckDB oracle expresses the same fixpoint as a recursive CTE
(transitive closure -> min reachable id), so the iterative Spark
result is exactly checkable.
"""

from __future__ import annotations

from ..sources.scan import scan_parquet

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).dropDuplicates()


def _large_star(sym: DataFrame) -> DataFrame:
    """(u,v) symmetric -> {(v, m(u)) : v in N(u), v > u} where
    m(u) = min(N(u) + {u}); connects every larger neighbor to the
    local minimum."""
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least("u", "_mn").alias("m"))
    )
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient each edge large->small, then per node u connect all its
    smaller neighbors (and u itself) to m(u) = min of them."""
    d = (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
    )
    m = d.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        d.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(m.select(F.col("u"), F.col("m").alias("v")))
    )
    return out.filter(F.col("u") != F.col("v")).dropDuplicates()


def connected_components_star(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): each round is two join+agg passes and the edge set
    contracts toward a star forest in O(log n) rounds — independent of
    graph DIAMETER, so billion-edge alias chains converge where label
    propagation would need diameter rounds. Output: (vertex, component)
    with component the min vertex id of the component, over the
    vertices appearing in pairs; raises on non-convergence rather than
    returning silently-wrong labels."""
    e0 = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .dropDuplicates()
        .localCheckpoint()
    )
    vertices = (
        e0.select(F.col("u").alias("vertex"))
        .unionByName(e0.select(F.col("v").alias("vertex")))
        .dropDuplicates()
        .localCheckpoint()
    )
    edges = e0.filter(F.col("u") != F.col("v"))
    prev = None
    for _ in range(max_iter):
        edges = _small_star(_large_star(_symmetrize(edges))).localCheckpoint()
        if prev is not None:
            # small_star output is canonical (child > root), so set
            # equality is an exact convergence test; the sets shrink
            # geometrically, keeping both anti-joins cheap
            changed = (
                edges.exceptAll(prev).count() + prev.exceptAll(edges).count()
            )
            if changed == 0:
                roots = edges.select(
                    F.col("u").alias("vertex"), F.col("v").alias("component")
                )
                return vertices.join(roots, "vertex", "left").select(
                    "vertex",
                    F.coalesce("component", "vertex").alias("component"),
                )
        prev = edges
    raise RuntimeError(
        f"connected_components_star did not converge in {max_iter} "
        "rounds — pathological input (star rounds are O(log n); "
        "check for NaN/null vertex ids)"
    )


def q_dedup_components(spark, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: components over the exact n-gram
    Jaccard pair list (dedup.q_dedup_ngram_jaccard), via the
    O(log n)-round star algorithm (the DuckDB recursive-CTE oracle
    pins it to the same min-reachable-id fixpoint)."""
    from .dedup import q_dedup_ngram_jaccard

    pairs = q_dedup_ngram_jaccard(spark, sf_dir)
    return connected_components_star(
        pairs, "doc_a", "doc_b"
    ).withColumnRenamed("vertex", "doc_id")


def sql_dedup_components() -> str:
    from .dedup import sql_jaccard_ctes

    return f"""
WITH RECURSIVE {sql_jaccard_ctes()},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM jpairs
  UNION
  SELECT doc_b, doc_a FROM jpairs),
reach(v, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.v)
SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v"""


def q_dedup_keep_canonical(spark, sf_dir: str) -> DataFrame:
    """The dedup DECISION: every document maps to the canonical keeper
    of its near-dup cluster (min doc_id per component; singletons keep
    themselves) with a drop flag — the table a training-data pipeline
    anti-joins against the corpus. Components are cluster-local ids, so
    the keeper join is a shuffle on component id; singletons never
    enter the pair list and are appended map-side."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    comp = q_dedup_components(spark, sf_dir)
    keeper = comp.groupBy("component").agg(
        F.min("doc_id").alias("keep_doc_id")
    )
    clustered = comp.join(keeper, "component").select(
        "doc_id", "keep_doc_id"
    )
    return (
        docs.join(clustered, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("keep_doc_id"), F.col("doc_id")).alias(
                "keep_doc_id"
            ),
        )
        .withColumn("is_duplicate", F.col("doc_id") != F.col("keep_doc_id"))
    )


def sql_dedup_keep_canonical() -> str:
    from .dedup import sql_jaccard_ctes

    return f"""
WITH RECURSIVE {sql_jaccard_ctes()},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM jpairs
  UNION
  SELECT doc_b, doc_a FROM jpairs),
reach(v, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.v),
comp AS (SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v),
keeper AS (
  SELECT component, min(doc_id) AS keep_doc_id FROM comp GROUP BY component)
SELECT d.doc_id,
       coalesce(k.keep_doc_id, d.doc_id) AS keep_doc_id,
       coalesce(k.keep_doc_id, d.doc_id) != d.doc_id AS is_duplicate
FROM documents d
LEFT JOIN comp c ON c.doc_id = d.doc_id
LEFT JOIN keeper k ON k.component = c.component"""


# ---- fixed-point PageRank over the near-dup graph -------------------
#
# Iterative rank propagation is the second classic iterative graph
# primitive after components. Floating-point PageRank is NOT
# cross-engine reproducible (aggregation order changes the last ulp),
# so ranks are fixed-point integers: contribution = r * w // ow and
# new_r = BASE + (85 * sum) // 100 use only integer division and
# integer sums — commutative and exact in both engines, making the
# whole iteration hash-checkable. Iterations are a driver loop in
# Spark (shuffle on dst per round) and unrolled CTEs in DuckDB
# (aggregation is not allowed inside a recursive CTE term).

PR_SCALE = 1_000_000
PR_ITERS = 3
PR_BASE = (15 * PR_SCALE) // 100


def pagerank_fixed_point(
    edges: DataFrame, dangling: bool = False
) -> DataFrame:
    """edges(src, dst[, w]) -> (node, rank_fp): integer fixed-point
    PageRank after PR_ITERS rounds, damping 0.85, start rank PR_SCALE.

    Rank flows in proportion to the INTEGER edge weight: each edge
    carries r * w div ow, ow = sum(w) over its src. Without a w column
    every row weighs 1, so a duplicate row is one more unit of weight
    and the contribution is exactly r div out-degree.

    dangling=False ranks the sources only. dangling=True ranks
    src ∪ dst and recycles the mass of the sinks (nodes with no
    outlink): each round every node also receives D div N, D the
    sinks' summed rank (a 1-row agg broadcast into the update) and N
    the node count, remainder dropped as in the SQL oracles. Per
    round: one edge-grain join + groupBy(dst), plus that scalar agg
    when dangling."""
    edges = edges.localCheckpoint()
    w = "w" if "w" in edges.columns else "1"
    nodes = edges.select(F.col("src").alias("node"))
    if dangling:
        nodes = nodes.unionAll(edges.select(F.col("dst").alias("node")))
    # the node set is a loop constant: checkpoint it once instead of
    # re-running the distinct from the edge checkpoint in every
    # round's plan (pre-joining ow into the edge list was also tried:
    # the extra edge-grain materialization cost more than the cheap
    # per-round broadcast ow join it replaced)
    nodes = nodes.distinct().localCheckpoint()
    ow = edges.groupBy("src").agg(F.expr(f"sum({w})").alias("ow"))
    inflow = "coalesce(s, 0)"
    if dangling:
        n_nodes = nodes.count()  # plan constant (1 driver scalar)
        sinks = nodes.join(
            edges.select("src").distinct(),
            nodes["node"] == F.col("src"),
            "left_anti",
        )
        inflow = f"(coalesce(s, 0) + _d div {n_nodes})"
    ranks = nodes.withColumn("r", F.lit(PR_SCALE).cast("long"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(ow, "src")
            .select(F.col("dst"), F.expr(f"r * {w} div ow").alias("c"))
        )
        summed = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        new = nodes.join(summed, nodes["node"] == summed["dst"], "left")
        if dangling:
            d = ranks.join(sinks, "node", "left_semi").agg(
                F.coalesce(F.sum("r"), F.lit(0)).alias("_d")
            )
            new = new.crossJoin(F.broadcast(d))
        ranks = new.select(
            "node",
            (F.lit(PR_BASE) + F.expr(f"(85 * {inflow}) div 100"))
            .cast("long")
            .alias("r"),
        ).localCheckpoint()  # truncate lineage per round
    return ranks.select("node", F.col("r").alias("rank_fp"))


def _both_directions(
    pairs: DataFrame, a: str, b: str, src: str, dst: str
) -> DataFrame:
    """pairs(a, b) -> (src, dst): each pair in both directions,
    emitted from ONE pass over pairs (inline over a two-struct array) —
    a self-union would run the whole pair subtree once per branch."""
    return pairs.select(
        F.inline(
            F.array(
                F.struct(F.col(a).alias(src), F.col(b).alias(dst)),
                F.struct(F.col(b).alias(src), F.col(a).alias(dst)),
            )
        )
    )


def q_graph_pagerank(spark, sf_dir: str) -> DataFrame:
    """Document importance within near-dup clusters: PageRank over the
    undirected exact-Jaccard pair graph."""
    from .dedup import q_dedup_ngram_jaccard

    return pagerank_fixed_point(
        _both_directions(
            q_dedup_ngram_jaccard(spark, sf_dir), "doc_a", "doc_b", "src", "dst"
        )
    ).withColumnRenamed("node", "doc_id")


def sql_graph_pagerank() -> str:
    from .dedup import sql_jaccard_ctes

    steps = []
    for i in range(PR_ITERS):
        steps.append(f"""
s{i + 1} AS (
  SELECT e.dst, sum(r{i}.r // od.deg) AS s
  FROM edges e
  JOIN r{i} ON r{i}.node = e.src
  JOIN od ON od.src = e.src
  GROUP BY e.dst),
r{i + 1} AS (
  SELECT n.node,
         CAST({PR_BASE} + (85 * coalesce(s{i + 1}.s, 0)) // 100 AS BIGINT)
           AS r
  FROM nodes n LEFT JOIN s{i + 1} ON s{i + 1}.dst = n.node)""")
    return f"""
WITH {sql_jaccard_ctes()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jpairs
  UNION ALL
  SELECT doc_b, doc_a FROM jpairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
od AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS r FROM nodes),
{",".join(steps)}
SELECT node AS doc_id, r AS rank_fp FROM r{PR_ITERS}"""


# k-hop BFS bounds: 3 hops from the 8 lowest-id participating docs
KHOP_K = 3
KHOP_SOURCES = 8


def q_graph_khop(spark, sf_dir: str) -> DataFrame:
    """Minimum hop distance (<= KHOP_K) from a source set over the
    undirected near-dup graph — the neighborhood-expansion query a
    graph consumer runs around entities of interest. K FIXED rounds of
    frontier-join (frontier deduped to node grain each round, so work
    is nodes-touched, never walk-count); the per-(src,node) minimum
    falls out of one final aggregation. At 10^12 docs each round is
    one shuffle on the frontier key and the frontier is bounded by the
    k-hop neighborhood, not the graph."""
    from .dedup import q_dedup_ngram_jaccard

    edges = _both_directions(
        q_dedup_ngram_jaccard(spark, sf_dir),
        "doc_a", "doc_b", "doc_a", "doc_b",
    ).dropDuplicates()
    # deterministic non-empty source set: the lowest participating ids
    srcs = (
        edges.select(F.col("doc_a").alias("src"))
        .distinct()
        .orderBy("src")
        .limit(KHOP_SOURCES)
    )
    reach = srcs.select(
        "src", F.col("src").alias("node"), F.lit(0).alias("dist")
    )
    frontier = reach
    for d in range(1, KHOP_K + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["doc_a"])
            .select(
                "src",
                F.col("doc_b").alias("node"),
                F.lit(d).alias("dist"),
            )
            .dropDuplicates(["src", "node"])
        )
        reach = reach.unionByName(nxt)
        frontier = nxt
    return reach.groupBy("src", "node").agg(
        F.min("dist").cast("long").alias("dist")
    )


def sql_graph_khop() -> str:
    from .dedup import sql_jaccard_ctes

    return f"""
WITH RECURSIVE {sql_jaccard_ctes()},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM jpairs
  UNION
  SELECT doc_b, doc_a FROM jpairs),
srcs AS (
  SELECT DISTINCT a AS src FROM edges ORDER BY src
  LIMIT {KHOP_SOURCES}),
walk(src, node, dist) AS (
  SELECT src, src, 0 FROM srcs
  UNION
  SELECT w.src, e.b, w.dist + 1
  FROM walk w JOIN edges e ON e.a = w.node
  WHERE w.dist < {KHOP_K})
SELECT src, node, CAST(min(dist) AS BIGINT) AS dist
FROM walk GROUP BY src, node"""


QUERIES = {
    "dedup_components": q_dedup_components,
    "dedup_keep_canonical": q_dedup_keep_canonical,
    "graph_pagerank_neardup": q_graph_pagerank,
    "graph_khop_neardup": q_graph_khop,
}
ORACLES = {
    "dedup_components": sql_dedup_components(),
    "dedup_keep_canonical": sql_dedup_keep_canonical(),
    "graph_pagerank_neardup": sql_graph_pagerank(),
    "graph_khop_neardup": sql_graph_khop(),
}
