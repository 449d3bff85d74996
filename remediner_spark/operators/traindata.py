"""Training-data assembly operators: deterministic sampling + sequence
packing.

The LLM-pipeline counterparts of "select the corpus" and "shape it
into pretraining batches", Spark-first with exact DuckDB oracles:

* ``sample_bernoulli`` — keep-rate sampling by hash bucket of the key:
  map-only, reproducible, join-stable (the same doc is kept in every
  run and on every table sharing the key). The standard way to cut a
  100 TB corpus to an n% slice without a shuffle.
* ``sample_stratified`` — exact top-k per stratum ordered by a
  deterministic hash (a seeded "random" k-subset per language that is
  stable across runs). Window per stratum; at scale the window
  shuffles one stratum per reducer, and AQE skew-split covers the
  head stratum.
* ``pack_sequences`` — GPT-style concat-and-chunk packing: documents
  in canonical order are laid head-to-tail into fixed token-budget
  sequences; each doc gets (seq_id, offset). The cumulative token
  position is computed as a DISTRIBUTED PREFIX SUM — per-range-bucket
  window partials plus a driver-side prefix over bucket subtotals
  (bucket count capped at PACK_MAX_BUCKETS via a range-derived width,
  so the collect is bounded at any corpus size) broadcast back —
  never a single global-order window, which would serialize 10^12
  rows through one reducer. The DuckDB oracle computes the same value with
  a plain global window, so a hash match proves the two-phase prefix
  sum equals the global cumsum exactly.
"""

from __future__ import annotations

from ..session import local_frame
from ..sources.scan import scan_parquet

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .textstats import BPE_PATTERN, md5_hash32_expr, md5_hash32_sql

SAMPLE_DENOM = 100
SAMPLE_KEEP = 7  # ~7% Bernoulli slice
STRATA_K = 20  # docs kept per language
PACK_BUDGET = 512  # tokens per packed sequence
# hard cap on prefix-sum buckets: the driver-side prefix collects one
# row per NON-EMPTY bucket, so its size is min(n_docs, PACK_MAX_BUCKETS)
# — bounded and metadata-sized no matter the corpus (at the 10^12-doc
# design target each bucket spans ~1.5e7 ids; 64Ki longs driver-side)
PACK_MAX_BUCKETS = 1 << 16


# The hash-coin samplers / mixture / heavy-hitters below keep the
# PLAIN read (no scan-parallelism floor): one md5 per row is lighter
# than the floor's exchange at every measured sf (A/B, min-of-2 —
# e.g. sample_bernoulli sf1.0 0.153 s plain vs 0.366 s floored;
# topk_heavy_hitters tie at sf1.0, 0.63 vs 1.07 s at sf0.1).
def q_sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = md5_hash32_expr(F.concat(F.lit("bern|"), F.col("doc_id").cast("string")))
    return docs.filter(h % SAMPLE_DENOM < SAMPLE_KEEP).select(
        "doc_id", "lang"
    )


SQL_SAMPLE_BERNOULLI = f"""
SELECT doc_id, lang FROM documents
WHERE ({md5_hash32_sql("('bern|' || CAST(doc_id AS VARCHAR))")})
      % {SAMPLE_DENOM} < {SAMPLE_KEEP}"""


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = md5_hash32_expr(
        F.concat(F.lit("strat|"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= STRATA_K)
        .select("lang", "sample_rank", "doc_id")
    )


SQL_SAMPLE_STRATIFIED = f"""
WITH ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (
             PARTITION BY lang
             ORDER BY {md5_hash32_sql("('strat|' || CAST(doc_id AS VARCHAR))")}
                      ASC, doc_id ASC) AS sample_rank
  FROM documents)
SELECT lang, sample_rank, doc_id FROM ranked
WHERE sample_rank <= {STRATA_K}"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(  # plain read: the floor's exchange loses
        # at sf0.1 (1.35 vs 0.82 s) and ties at sf1.0 (A/B min-of-3) —
        # the wall is the window/prefix machinery, not the token count
        f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{BPE_PATTERN}', 0)"))
        .cast("long")
        .alias("n_tokens"),
    )
    # bucket width derived from the id RANGE (not a constant), so the
    # bucket count — and therefore the driver-side prefix — is bounded
    # by PACK_MAX_BUCKETS independent of corpus size. The max(doc_id)
    # probe is a column-pruned single-long agg (the n_tokens regexp is
    # pruned out of this branch by Catalyst).
    max_id = docs.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    width = max(1, -(-((max_id or 0) + 1) // PACK_MAX_BUCKETS))
    b = docs.withColumn("_bucket", F.floor(F.col("doc_id") / width))
    # phase 1: bucket subtotals (one row per non-empty bucket, <= 2^16
    # rows), prefix-summed driver-side, broadcast back
    totals = (
        b.groupBy("_bucket")
        .agg(F.sum("n_tokens").alias("_subtotal"))
        .orderBy("_bucket")
        .collect()
    )
    prefix_rows, acc = [], 0
    for r in totals:
        prefix_rows.append((r["_bucket"], acc))
        acc += r["_subtotal"]
    prefix = local_frame(spark, prefix_rows, "_bucket long, _prefix long")
    # phase 2: window within bucket + broadcast prefix join
    w = (
        Window.partitionBy("_bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_in_bucket = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        b.withColumn("_cum_in_bucket", cum_in_bucket)
        .join(F.broadcast(prefix), "_bucket")
        .withColumn("cum_before", F.col("_prefix") + F.col("_cum_in_bucket"))
        .select(
            "doc_id",
            "n_tokens",
            F.floor(F.col("cum_before") / PACK_BUDGET).alias("seq_id"),
            (F.col("cum_before") % PACK_BUDGET).alias("seq_offset"),
        )
    )


SQL_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (
             ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM t)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(floor(cum_before / {PACK_BUDGET}) AS BIGINT) AS seq_id,
       CAST(cum_before % {PACK_BUDGET} AS BIGINT) AS seq_offset
FROM c"""


EVAL_MOD = 97  # doc_id % EVAL_MOD == 0 -> held-out "benchmark" subset


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word n-gram with the held-out evaluation subset — the standard
    train/test-leakage scrub before pretraining. The eval subset here
    is a deterministic doc_id slice standing in for an external
    benchmark table.

    Scale shape: real benchmark suites are FIXED-size (a few GB of
    eval text at most), so their distinct n-gram set broadcasts and
    the contamination join runs map-side over the exploded training
    shingles; the per-doc hit count is a partial-aggregated groupBy.
    The join is left to AQE rather than F.broadcast-forced: this
    fixture's stand-in eval slice is a doc_id fraction (it grows with
    the corpus), and a hard broadcast hint would OOM past the
    broadcast limit instead of degrading to a shuffle join.
    """
    from .dedup import _shingles_expr

    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", _shingles_expr(F.col("text")).alias("sh")
    )
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    ev = (
        docs.filter(is_eval)
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    tr = docs.filter(~is_eval).select(
        "doc_id", F.explode("sh").alias("shingle")
    )
    # shingles are array_distinct per doc, so count(*) == number of
    # distinct contaminated n-grams in the doc
    hits = (
        tr.join(ev, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        docs.filter(~is_eval)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def sql_decontaminate() -> str:
    from .dedup import _shingles_sql

    sh = _shingles_sql("text")
    return f"""
WITH s AS (SELECT doc_id, {sh} AS sh FROM documents),
ev AS (SELECT DISTINCT unnest(sh) AS shingle FROM s
       WHERE doc_id % {EVAL_MOD} = 0),
tr AS (SELECT doc_id, unnest(sh) AS shingle FROM s
       WHERE doc_id % {EVAL_MOD} <> 0),
hits AS (SELECT doc_id, count(*) AS n_hits
         FROM tr JOIN ev USING (shingle) GROUP BY doc_id)
SELECT s.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM s LEFT JOIN hits h ON s.doc_id = h.doc_id
WHERE s.doc_id % {EVAL_MOD} <> 0"""


# ---- Bloom-filter decontamination -----------------------------------
#
# The exact variant above joins against the eval set's raw n-gram
# strings; at benchmark-suite scale those are broadcastable, but a
# LARGE held-out corpus (multi-TB eval suites, all prior test sets)
# is not. The Bloom form compresses the eval side to a set of BIT
# POSITIONS — <= min(M, K*n) integers regardless of gram string
# length — which broadcasts at a fraction of the raw size. Spark's
# built-in bloom_filter_agg is not in the public registry (and its
# bitmap bytes are not portable across engines anyway), so the filter
# is built RELATIONALLY from the repo's md5-LCG hash family: fully
# deterministic, so DuckDB reproduces the decision bit-for-bit —
# false positives included — and the oracle is exact, not a bound
# check. No false negatives by construction (every truly-contaminated
# gram has all its positions set); tests pin exact subset-of bloom.

BLOOM_M = 1 << 20  # filter bits
BLOOM_K = 4  # hash functions
_BLOOM_P = (1 << 31) - 1
BLOOM_A = [2654435761, 2246822519, 3266489917, 668265263]
BLOOM_B = [97, 7919, 104729, 1299709]


def _bloom_positions_expr(shingle):
    """Array of the K bit positions for one gram. (h%P)*A keeps the
    product under 2^63 (Spark 4 ANSI overflow is a hard error)."""
    h = md5_hash32_expr(shingle) % _BLOOM_P
    return F.array(
        *[
            ((h * BLOOM_A[i] + BLOOM_B[i]) % _BLOOM_P % BLOOM_M).cast("long")
            for i in range(BLOOM_K)
        ]
    )


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter benchmark decontamination: flag training docs whose
    word n-grams hit the eval subset's Bloom filter. A gram is flagged
    iff ALL K of its bit positions are set — the membership test is a
    join of the exploded (gram, position) rows against the set-bit
    table with a count==K gate. FP rate (1-e^(-Kn/M))^K; flagged is a
    SUPERSET of the exact decontaminate verdict (no false negatives)."""
    from pyspark.storagelevel import StorageLevel

    from .dedup import _shingles_expr

    # three consumers (eval positions, training explode, final doc
    # list) would each recompute the shingle arrays — the ngram-dedup
    # persist pattern applies (bounded, spillable, released by
    # session.release_caches, which bench.py calls between legs)
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", _shingles_expr(F.col("text")).alias("sh")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    ev_pos = (
        docs.filter(is_eval)
        .select(F.explode("sh").alias("shingle"))
        .distinct()
        .select(F.explode(_bloom_positions_expr(F.col("shingle"))).alias("pos"))
        .distinct()
    )
    tr = docs.filter(~is_eval).select(
        "doc_id", F.explode("sh").alias("shingle")
    )
    tr_pos = tr.select(
        "doc_id", "shingle",
        F.explode(_bloom_positions_expr(F.col("shingle"))).alias("pos"),
    )
    # shingles are array_distinct per doc, so (doc_id, shingle) is a
    # key; a gram whose positions collide with each other still counts
    # its matched slots, which preserves the all-K-set semantics
    flagged = (
        tr_pos.join(ev_pos, "pos")
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("_k"))
        .filter(F.col("_k") == BLOOM_K)
    )
    hits = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bloom_hits")
    )
    return (
        docs.filter(~is_eval)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bloom_hits", F.lit(0)).cast("long").alias(
                "n_bloom_hits"
            ),
            (F.coalesce("n_bloom_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def sql_decontaminate_bloom() -> str:
    from .dedup import _shingles_sql

    sh = _shingles_sql("text")
    h = f"({md5_hash32_sql('shingle')} % {_BLOOM_P})"
    pos_list = ", ".join(
        f"(h * {BLOOM_A[i]} + {BLOOM_B[i]}) % {_BLOOM_P} % {BLOOM_M}"
        for i in range(BLOOM_K)
    )
    return f"""
WITH s AS (SELECT doc_id, {sh} AS sh FROM documents),
evg AS (SELECT DISTINCT unnest(sh) AS shingle FROM s
        WHERE doc_id % {EVAL_MOD} = 0),
evh AS (SELECT {h} AS h FROM evg),
evpos AS (SELECT DISTINCT unnest([{pos_list}]) AS pos FROM evh),
tr AS (SELECT doc_id, unnest(sh) AS shingle FROM s
       WHERE doc_id % {EVAL_MOD} <> 0),
trh AS (SELECT doc_id, shingle, {h} AS h FROM tr),
trpos AS (SELECT doc_id, shingle, unnest([{pos_list}]) AS pos FROM trh),
fl AS (SELECT doc_id, shingle FROM trpos JOIN evpos USING (pos)
       GROUP BY doc_id, shingle HAVING count(*) = {BLOOM_K}),
hits AS (SELECT doc_id, count(*) AS n FROM fl GROUP BY doc_id)
SELECT s.doc_id, CAST(coalesce(h2.n, 0) AS BIGINT) AS n_bloom_hits,
       coalesce(h2.n, 0) > 0 AS contaminated
FROM s LEFT JOIN hits h2 ON s.doc_id = h2.doc_id
WHERE s.doc_id % {EVAL_MOD} <> 0"""


WEIGHT_DENOM = 1_000_000  # hash-threshold resolution (ppm)
WEIGHT_CHARS = 1000  # keep probability = min(1, n_chars / WEIGHT_CHARS)


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling for data curation: each doc kept with
    probability proportional to a quality weight (here its length,
    capped at 1) — longer docs survive curation more often, the
    standard up/down-weighting move when shaping a training mixture.
    DETERMINISTIC: the coin is the md5-prefix hash of the doc id
    against an integer ppm threshold, so the same doc gets the same
    verdict in every run, on every engine, and in any join — no RNG
    state, map-only, reproducible lineage."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = md5_hash32_expr(
        F.concat(F.lit("wsamp|"), F.col("doc_id").cast("string"))
    )
    keep_ppm = F.least(
        F.lit(WEIGHT_DENOM),
        (F.col("n_chars") * WEIGHT_DENOM / WEIGHT_CHARS).cast("long"),
    )
    return (
        docs.withColumn("keep_ppm", keep_ppm)
        .filter(h % WEIGHT_DENOM < F.col("keep_ppm"))
        .select("doc_id", "n_chars", F.col("keep_ppm").cast("long").alias("keep_ppm"))
    )


TEMP_DENOM = 1_000_000  # ppm threshold base for the temperature coin


def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture rebalancing (the T5/mT5 rule: sample
    group g with probability proportional to p_g^alpha, alpha=0.5 —
    head groups down-weighted, tail groups kept whole). Realized as
    per-doc deterministic thinning: keep_ppm(g) =
    floor(1e6 * sqrt(n_min / n_g)), so the rarest group keeps
    everything and a group 4x its size keeps half — expected counts
    proportional to sqrt(n_g), exactly p_g^0.5 renormalized.

    Cross-engine exactness: n_min/n_g division, sqrt, the 1e6 scale,
    and floor are all IEEE correctly-rounded operations evaluated in
    the same expression shape on both engines, so keep_ppm is
    bit-identical — no probabilistic certificate needed; the coin is
    the usual md5-prefix hash of the doc id. At 100 TB: one tiny
    count aggregation, a broadcast join of the group table, and a
    map-side filter."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_grp"))
    n_min = counts.agg(F.min("n_grp").alias("n_min"))
    keep = (
        counts.crossJoin(F.broadcast(n_min))
        .withColumn(
            "keep_ppm",
            F.floor(
                F.lit(float(TEMP_DENOM))
                * F.sqrt(F.col("n_min").cast("double") / F.col("n_grp"))
            ).cast("long"),
        )
        .select("lang", F.col("n_grp").cast("long").alias("n_grp"),
                "keep_ppm")
    )
    h = md5_hash32_expr(
        F.concat(F.lit("tsamp|"), F.col("doc_id").cast("string"))
    )
    return (
        docs.join(F.broadcast(keep), "lang")
        .filter(h % TEMP_DENOM < F.col("keep_ppm"))
        .select("doc_id", "lang", "n_grp", "keep_ppm")
    )


SQL_SAMPLE_TEMPERATURE = f"""
WITH c AS (SELECT lang, count(*) AS n_grp FROM documents GROUP BY lang),
mn AS (SELECT min(n_grp) AS n_min FROM c),
k AS (
  SELECT lang, CAST(n_grp AS BIGINT) AS n_grp,
         CAST(floor({float(1_000_000)} *
              sqrt(CAST(n_min AS DOUBLE) / n_grp)) AS BIGINT) AS keep_ppm
  FROM c CROSS JOIN mn)
SELECT d.doc_id, d.lang, k.n_grp, k.keep_ppm
FROM documents d JOIN k USING (lang)
WHERE ({md5_hash32_sql("('tsamp|' || CAST(doc_id AS VARCHAR))")})
      % 1000000 < k.keep_ppm"""


SQL_SAMPLE_WEIGHTED = f"""
WITH w AS (
  SELECT doc_id, n_chars,
         least({WEIGHT_DENOM},
               CAST(n_chars * {WEIGHT_DENOM} / {WEIGHT_CHARS} AS BIGINT))
           AS keep_ppm
  FROM documents)
SELECT doc_id, n_chars, keep_ppm
FROM w
WHERE ({md5_hash32_sql("('wsamp|' || CAST(doc_id AS VARCHAR))")})
      % {WEIGHT_DENOM} < keep_ppm"""


def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture reweighting: per-source token shares and the
    sampling weight that equalizes the mixture (weight = uniform
    target share / actual token share). The table a pretraining data
    loader consumes to balance heterogeneous sources. Two tiny aggs +
    a broadcast of the one-row total — nothing corpus-sized shuffles
    beyond the per-source partial agg."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", F.size(F.split(F.col("text"), " ")).cast("long").alias("tok")
    )
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        # integer product first (exact), ONE double division, then the
        # 6dp round — the same op sequence on both engines
        F.round(
            F.col("total_tokens") / (F.col("n_sources") * F.col("n_tokens")), 6
        ).alias("weight"),
    )


SQL_SOURCE_MIXTURE = """
WITH per AS (
  SELECT source, count(*) AS n_docs,
         sum(len(string_split(text, ' '))) AS n_tokens
  FROM documents GROUP BY source),
tot AS (
  SELECT sum(n_tokens) AS total_tokens, count(*) AS n_sources FROM per)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(total_tokens / (n_sources * n_tokens), 6) AS weight
FROM per, tot"""


TOP_NGRAMS_K = 25


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram frequency statistics: top-k n-grams by document
    frequency (ties broken lexicographically) — the profiling pass
    behind stop-shingle lists and contamination heuristics. Count agg
    gets map-side partials; the global top-k compiles to TakeOrdered
    (per-partition heap + driver merge of k rows), never a full sort.
    """
    from .dedup import _shingles_expr

    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        _shingles_expr(F.col("text")).alias("sh")
    )
    return (
        docs.select(F.explode("sh").alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("ngram").asc())
        .limit(TOP_NGRAMS_K)
    )


def sql_top_ngrams() -> str:
    from .dedup import _shingles_sql

    sh = _shingles_sql("text")
    return f"""
WITH s AS (SELECT doc_id, {sh} AS sh FROM documents),
inv AS (SELECT unnest(sh) AS ngram FROM s)
SELECT ngram, count(*) AS df FROM inv GROUP BY ngram
ORDER BY df DESC, ngram ASC LIMIT {TOP_NGRAMS_K}"""


HH_K = 20
HH_M = 64  # per-partition candidate budget


def q_topk_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k words via the TPUT/threshold two-round shape — the
    form that survives a 10^9-distinct-token web vocabulary where
    `top_ngrams`'s plain groupBy would shuffle one partial row per
    (partition, word).

    Round 1 is partition-LOCAL (mapInPandas, no shuffle): each
    partition emits its exact top-M words plus one residual-bound row
    (the (M+1)-th count). Any word outside the candidate union has
    global count <= S = sum of residual bounds. Round 2 recounts ONLY
    the candidates (broadcast semi-join before the groupBy, so the
    shuffle carries at most partitions x M words, independent of
    vocabulary size). The certificate t_k > S — k-th recounted
    candidate strictly beats what any non-candidate could total —
    makes the result provably exact, not approximate; it raises
    (never silently degrades) if M was too small for the skew.
    """
    import pandas as pd

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "text"
    )

    def local_tops(batches):
        from collections import Counter

        c: Counter = Counter()
        for pdf in batches:
            for t in pdf["text"]:
                c.update(t.split(" "))
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
        head, tail = top[:HH_M], top[HH_M:]
        bound = tail[0][1] if tail else 0
        yield pd.DataFrame(
            {
                "word": [w for w, _ in head] + [None],
                "cnt": [n for _, n in head] + [bound],
            }
        )

    p1 = docs.mapInPandas(local_tops, "word string, cnt long").persist()
    try:
        s_row = (
            p1.filter(F.col("word").isNull()).agg(F.sum("cnt")).collect()
        )
        residual = s_row[0][0] or 0
        cand = p1.filter(F.col("word").isNotNull()).select("word").distinct()
        words = docs.select(
            F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        top = (
            words.join(F.broadcast(cand), "word")
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("word").asc())
            .limit(HH_K)
        )
        if residual:
            rows = top.collect()
            t_k = rows[-1].cnt if len(rows) >= HH_K else 0
            if t_k <= residual:
                raise ValueError(
                    f"heavy-hitter certificate failed: k-th count {t_k}"
                    f" <= residual bound {residual}; raise HH_M"
                )
    finally:
        p1.unpersist()
    return top


def sql_topk_heavy_hitters() -> str:
    return f"""
WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
SELECT word, CAST(count(*) AS BIGINT) AS cnt
FROM w GROUP BY word ORDER BY cnt DESC, word ASC LIMIT {HH_K}"""


CHUNK_W = 16  # window (whitespace tokens) — sized to the fixture docs
CHUNK_S = 8  # stride (W - S = overlap)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking (context-window prep): each
    doc yields ceil-strided windows of CHUNK_W tokens every CHUNK_S.
    Map-only (explode over a per-row sequence); the chunk content is
    verified cross-engine via the md5-prefix hash of the joined window
    — the oracle recomputes the same slices in DuckDB."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    )
    n = F.size("w")
    n_chunks = F.when(n <= CHUNK_W, F.lit(1)).otherwise(
        F.ceil((n - CHUNK_W) / F.lit(CHUNK_S)) + 1
    )
    chunks = docs.select(
        "doc_id",
        "w",
        n.alias("n_words"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    ).withColumn("off", F.col("chunk_idx") * CHUNK_S)
    chunk_words = F.slice(F.col("w"), F.col("off") + 1, CHUNK_W)
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("off").cast("long").alias("token_offset"),
        F.size(chunk_words).cast("long").alias("chunk_tokens"),
        md5_hash32_expr(F.concat_ws(" ", chunk_words)).alias("chunk_hash"),
    )


SQL_CHUNK_DOCUMENTS = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS n_words
  FROM documents),
c AS (
  SELECT doc_id, w, n_words,
         unnest(range(0, CASE WHEN n_words <= {CHUNK_W} THEN 1
                  ELSE CAST(ceil((n_words - {CHUNK_W}) * 1.0
                                 / {CHUNK_S}) AS BIGINT) + 1 END))
           AS chunk_idx
  FROM d)
SELECT doc_id, chunk_idx, chunk_idx * {CHUNK_S} AS token_offset,
       len(w[chunk_idx * {CHUNK_S} + 1 :
             chunk_idx * {CHUNK_S} + {CHUNK_W}]) AS chunk_tokens,
       {md5_hash32_sql(
           f"array_to_string(w[chunk_idx * {CHUNK_S} + 1 : "
           f"chunk_idx * {CHUNK_S} + {CHUNK_W}], ' ')")} AS chunk_hash
FROM c"""


# Count-Min Sketch: d hash rows x w buckets. Width 16 ON PURPOSE at
# gate scale: the synthetic documents vocabulary is only ~31 words, so
# a production-sized width would never collide and the overcount
# column would be vacuous; w=16 gives 13/20 probes a real overcount
# (est >= true always; equality iff some row is collision-free)
CMS_D, CMS_W = 4, 16
CMS_PROBES = 20


def q_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch frequency estimation (Cormode & Muthukrishnan):
    one pass builds a d x w counter table; any word's count estimate is
    the MIN over its d bucket counters — never an undercount.

    The sketch is DETERMINISTIC here (md5-prefix row hashes), so both
    engines compute identical tables and identical estimates — a
    sketch whose output is exactly reproducible, not just bounded.

    Scale shape: the word explode feeds a groupBy with only d*w
    distinct keys, so map-side partial aggregation collapses every
    partition to <= d*w rows — the partial agg IS the sketch merge;
    the exchange carries sketch-sized, not corpus-sized, data. Probe
    words join the (tiny, broadcast) cell table. True counts exist in
    the gate output only to certify the estimates; production keeps
    the sketch alone."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select("text")
    words = docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
    cells = (
        words.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            (
                                md5_hash32_expr(
                                    F.concat(F.lit(f"cms{r}|"), F.col("w"))
                                )
                                % CMS_W
                            ).alias("b"),
                        )
                        for r in range(CMS_D)
                    ]
                )
            ).alias("c")
        )
        .groupBy("c.r", "c.b")
        .agg(F.count(F.lit(1)).alias("cell_n"))
    )
    true_counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("true_n"))
    probes = true_counts.orderBy(
        F.col("true_n").desc(), F.col("w")
    ).limit(CMS_PROBES)
    probe_cells = probes.select(
        "w",
        "true_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        (
                            md5_hash32_expr(
                                F.concat(F.lit(f"cms{r}|"), F.col("w"))
                            )
                            % CMS_W
                        ).alias("b"),
                    )
                    for r in range(CMS_D)
                ]
            )
        ).alias("c"),
    ).select("w", "true_n", "c.r", "c.b")
    return (
        probe_cells.join(F.broadcast(cells), ["r", "b"])
        .groupBy("w", "true_n")
        .agg(F.min("cell_n").alias("cms_est"))
        .select(
            F.col("w").alias("word"),
            F.col("true_n").alias("true_count"),
            "cms_est",
            (F.col("cms_est") - F.col("true_n")).alias("overcount"),
        )
    )


def sql_freq_cms() -> str:
    def bucket(r: int, col: str) -> str:
        keyed = f"('cms{r}|' || {col})"
        return f"({md5_hash32_sql(keyed)}) % {CMS_W}"

    cell_rows = " UNION ALL ".join(
        f"SELECT {r} AS r, {bucket(r, 'w')} AS b FROM words"
        for r in range(CMS_D)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT w, true_n, {r} AS r, {bucket(r, 'w')} AS b FROM probes"
        for r in range(CMS_D)
    )
    return f"""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
cells AS (
  SELECT r, b, count(*) AS cell_n FROM ({cell_rows}) GROUP BY r, b),
tc AS (SELECT w, count(*) AS true_n FROM words GROUP BY w),
probes AS (
  SELECT w, true_n FROM tc ORDER BY true_n DESC, w LIMIT {CMS_PROBES}),
pc AS ({probe_rows})
SELECT pc.w AS word, pc.true_n AS true_count,
       CAST(min(cells.cell_n) AS BIGINT) AS cms_est,
       CAST(min(cells.cell_n) - pc.true_n AS BIGINT) AS overcount
FROM pc JOIN cells ON cells.r = pc.r AND cells.b = pc.b
GROUP BY pc.w, pc.true_n"""


QUERIES = {
    "sample_bernoulli": q_sample_bernoulli,
    "sample_stratified": q_sample_stratified,
    "pack_sequences": q_pack_sequences,
    "chunk_documents": q_chunk_documents,
    "decontaminate": q_decontaminate,
    "decontaminate_bloom": q_decontaminate_bloom,
    "top_ngrams": q_top_ngrams,
    "topk_heavy_hitters": q_topk_heavy_hitters,
    "source_mixture": q_source_mixture,
    "sample_weighted": q_sample_weighted,
    "sample_temperature": q_sample_temperature,
    "freq_cms": q_freq_cms,
}

ORACLES = {
    "sample_bernoulli": SQL_SAMPLE_BERNOULLI,
    "sample_stratified": SQL_SAMPLE_STRATIFIED,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "chunk_documents": SQL_CHUNK_DOCUMENTS,
    "decontaminate": sql_decontaminate(),
    "decontaminate_bloom": sql_decontaminate_bloom(),
    "top_ngrams": sql_top_ngrams(),
    "topk_heavy_hitters": sql_topk_heavy_hitters(),
    "source_mixture": SQL_SOURCE_MIXTURE,
    "sample_weighted": SQL_SAMPLE_WEIGHTED,
    "sample_temperature": SQL_SAMPLE_TEMPERATURE,
    "freq_cms": sql_freq_cms(),
}
