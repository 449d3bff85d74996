"""Distributed BPE tokenizer training over the documents table.

The canonical LLM-pipeline "train the tokenizer on the corpus" step
(Sennrich et al. 2016), done at the grain real BPE trainers use: the
DISTINCT-WORD vocabulary with counts — corpus-size-independent after
the first aggregation, which is what makes the loop viable at 100 TB
(a trillion tokens collapse to a ~10^7-row weighted vocabulary).

Per merge step, all distributed, no data ever collected except the
single winning rule:

* adjacent-pair counting — map-side zip_with over each word's symbol
  array weighted by word count, then a pair-key agg with map-side
  partials (pair vocabulary is tiny: O(|alphabet|^2) early,
  O(vocab) late).
* winner selection — orderBy(total desc, left, right).limit(1): a
  TakeOrdered of ONE row; the collected rule IS the model being
  learned (driver-held by design, exactly like broadcast weights).
* merge application — a greedy left-to-right fold (F.aggregate) over
  each word's symbol array: map-side projection, no shuffle. Greedy
  non-overlap matches the reference BPE semantics ("aaaa" + rule
  (a,a) -> [aa, aa], never three overlapping merges).

The DuckDB oracle unrolls the same K iterations as CTE blocks (the
PageRank precedent). DuckDB's list_reduce cannot build a list
accumulator, so the oracle applies each merge with the gaps-and-
islands form instead: positions where the pair matches, islands of
consecutive matches, keep odd ranks (greedy), rebuild ordered by
position — provably the same greedy non-overlap rule (overlapping
matches only occur for left == right runs, where greedy keeps
positions 1,3,5,... of the run).

Everything is integer/string arithmetic — zero float anywhere, so
cross-engine hashing is exact by construction.
"""

from __future__ import annotations

from ..session import local_frame
from ..sources.scan import scan_parquet

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

BPE_K = 6  # merge rules to learn


def _initial_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain read: the train loop is vocabulary-grain (the corpus scan
    # aggregates straight to distinct words), and the floor's exchange
    # measured 2.06 vs 1.95 s at sf1.0 — not worth it here
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    return vocab.select(
        "word", "cnt", F.split(F.col("word"), "").alias("syms")
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    n = F.size("syms")
    pairs = vocab.select(
        "cnt",
        F.explode(
            F.zip_with(
                F.slice("syms", 1, n - 1),
                F.slice("syms", 2, n - 1),
                lambda a, b: F.struct(a.alias("l"), b.alias("r")),
            )
        ).alias("p"),
    )
    return pairs.groupBy("p.l", "p.r").agg(F.sum("cnt").alias("total"))


def _merge_expr(left: str, right: str):
    """Greedy left-to-right merge of (left, right) in a symbol array,
    as a fold: append, or replace the tail element when it is `left`
    (and was not itself just produced by this rule — the merged token
    differs from `left`, so no overlap) and the current is `right`."""
    merged = left + right

    def step(acc, x):
        return F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, F.size(acc)) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    def apply(col):
        return F.aggregate(
            col, F.array().cast("array<string>"), step
        )

    return apply


def train_bpe(
    spark: SparkSession, sf_dir: str, k: int = BPE_K
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn k merge rules; return (rules, final tokenized vocab).

    rules: [(step, left, right, weight)] — weight is the pair's
    weighted corpus count when it won.
    """
    vocab = _initial_vocab(spark, sf_dir).persist()
    vocab.count()  # materialize before the loop
    rules: list[tuple[int, str, str, int]] = []
    prev = vocab
    for step_i in range(k):
        best = (
            _pair_counts(prev)
            .orderBy(
                F.col("total").desc(),
                F.col("l").asc(),
                F.col("r").asc(),
            )
            .limit(1)
            .collect()
        )
        if not best:
            # the unrolled-CTE oracle and this loop only agree while
            # merges exist at every step — refuse loudly, never
            # silently return a shorter model
            raise ValueError(
                f"BPE exhausted at step {step_i} < k={k}; lower BPE_K"
            )
        left, right, total = (
            best[0]["l"],
            best[0]["r"],
            int(best[0]["total"]),
        )
        rules.append((step_i, left, right, total))
        apply = _merge_expr(left, right)
        nxt = prev.select(
            "word", "cnt", apply(F.col("syms")).alias("syms")
        ).persist()
        nxt.count()
        prev.unpersist()
        prev = nxt
    return rules, prev


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table — the tokenizer model artifact."""
    rules, final = train_bpe(spark, sf_dir)
    final.unpersist()
    return local_frame(
        spark,
        rules,
        "step int, merge_left string, merge_right string, weight long",
    )


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vocabulary tokenized by the learned rules — pins both the
    learning AND the greedy application path, per word."""
    _rules, final = train_bpe(spark, sf_dir)
    # the in-query persist on `final` is intentional (the minhash band
    # table precedent): the returned plan reads the vocabulary-grain
    # cache; bench/gate release caches between legs
    return final.select(
        "word",
        F.col("cnt").alias("n_word"),
        F.array_join("syms", " ").alias("tokens"),
        F.size("syms").cast("long").alias("n_tokens"),
    )


def q_bpe_doc_tokens(
    spark: SparkSession, sf_dir: str, k: int = BPE_K
) -> DataFrame:
    """Apply the trained tokenizer to the corpus: per-doc token counts.

    The model-apply step a pipeline runs after training — and the
    shape that scales: tokenization cost is paid ONCE per distinct
    word (the training loop already produced the tokenized
    vocabulary), then a BROADCAST word->n_tokens join back to the
    corpus grain keeps the whole pass map-side (no shuffle except the
    final doc_id agg with map-side partials). At 100 TB the vocabulary
    stays ~10^7 rows — comfortably broadcastable."""
    _rules, final = train_bpe(spark, sf_dir, k)
    wt = final.select(
        "word", F.size("syms").cast("long").alias("w_tokens")
    )
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet")
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    return (
        words.join(F.broadcast(wt), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("w_tokens").alias("n_tokens"),
        )
    )


def _sql_iterations(k: int) -> str:
    """Unrolled K-iteration CTE chain shared by both oracles."""
    parts = [
        """v0 AS MATERIALIZED (
  SELECT word, cnt, string_split(word, '') AS syms
  FROM (SELECT word, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents)
        GROUP BY word))"""
    ]
    for i in range(k):
        parts.append(f"""pairs{i} AS MATERIALIZED (
  SELECT v.word, v.cnt, CAST(t.j AS INT) AS j,
         v.syms[CAST(t.j AS INT)] AS l,
         v.syms[CAST(t.j AS INT) + 1] AS r
  FROM v{i} v, UNNEST(range(1, len(v.syms))) AS t(j)),
best{i} AS MATERIALIZED (
  SELECT l, r, CAST(sum(cnt) AS BIGINT) AS total
  FROM pairs{i} GROUP BY l, r
  ORDER BY total DESC, l ASC, r ASC LIMIT 1),
mt{i} AS MATERIALIZED (
  SELECT p.word, p.j FROM pairs{i} p JOIN best{i} b
    ON p.l = b.l AND p.r = b.r),
isl{i} AS MATERIALIZED (
  SELECT word, j,
         j - row_number() OVER (PARTITION BY word ORDER BY j) AS grp
  FROM mt{i}),
st{i} AS MATERIALIZED (
  SELECT word, j FROM (
    SELECT word, j,
           row_number() OVER (PARTITION BY word, grp ORDER BY j) AS rk
    FROM isl{i}) WHERE rk % 2 = 1),
pos{i} AS MATERIALIZED (
  SELECT v.word, v.cnt, CAST(t.j AS INT) AS j,
         v.syms[CAST(t.j AS INT)] AS s
  FROM v{i} v, UNNEST(range(1, len(v.syms) + 1)) AS t(j)),
v{i + 1} AS MATERIALIZED (
  SELECT p.word, p.cnt,
         list(CASE WHEN st.j IS NOT NULL THEN b.l || b.r ELSE p.s END
              ORDER BY p.j) AS syms
  FROM pos{i} p
  CROSS JOIN best{i} b
  LEFT JOIN st{i} st ON st.word = p.word AND st.j = p.j
  LEFT JOIN st{i} pr ON pr.word = p.word AND pr.j = p.j - 1
  WHERE pr.j IS NULL
  GROUP BY p.word, p.cnt)""")
    return ",\n".join(parts)


def sql_bpe_merges(k: int = BPE_K) -> str:
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INT) AS step, l AS merge_left, "
        f"r AS merge_right, total AS weight FROM best{i}"
        for i in range(k)
    )
    return f"WITH {_sql_iterations(k)}\n{unions}"


def sql_bpe_tokenize(k: int = BPE_K) -> str:
    return f"""WITH {_sql_iterations(k)}
SELECT word, cnt AS n_word, array_to_string(syms, ' ') AS tokens,
       CAST(len(syms) AS BIGINT) AS n_tokens
FROM v{k}"""


def sql_bpe_doc_tokens(k: int = BPE_K) -> str:
    return f"""WITH {_sql_iterations(k)},
wt AS (SELECT word, CAST(len(syms) AS BIGINT) AS w_tokens FROM v{k})
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(wt.w_tokens) AS BIGINT) AS n_tokens
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents) d
JOIN wt USING (word)
GROUP BY d.doc_id"""


QUERIES = {
    "bpe_merges": q_bpe_merges,
    "bpe_tokenize": q_bpe_tokenize,
    "bpe_doc_tokens": q_bpe_doc_tokens,
}

ORACLES = {
    "bpe_merges": sql_bpe_merges(),
    "bpe_tokenize": sql_bpe_tokenize(),
    "bpe_doc_tokens": sql_bpe_doc_tokens(),
}
