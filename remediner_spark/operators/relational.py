"""SQL-expressible reference operators (SURVEY.md §2.2/§2.6) with
DuckDB oracles, exercised over the driver-provided tables.

Each entry implements one reference semantic as idiomatic Catalyst
expressions (reference file:line cited per function) plus joins/aggs
the engine relies on (broadcast hash join, semi/anti joins for eval
P/R, window top-k, two-phase aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_frame


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def q_r1_project_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: drop column (ref: src/data_utilities.py:13)."""
    return _docs(spark, sf_dir).drop("source", "n_chars")


SQL_R1 = "SELECT doc_id, text, lang FROM documents"


def q_r2_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2: drop_duplicates (ref: src/data_utilities.py:14)."""
    return _docs(spark, sf_dir).select("lang", "source").dropDuplicates()


SQL_R2 = "SELECT DISTINCT lang, source FROM documents"


def q_r3_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3: dropna (ref: src/data_utilities.py:15)."""
    return _docs(spark, sf_dir).na.drop().select("doc_id")


SQL_R3 = """
SELECT doc_id FROM documents
WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
  AND source IS NOT NULL AND n_chars IS NOT NULL"""


def q_r4_overlap_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4: drop rows where two token sets overlap
    (ref: src/data_utilities.py:33-47). Stand-in sets: the first 3 and
    last 3 whitespace words of each document."""
    words = F.split(F.col("text"), " ")
    head = F.slice(words, 1, 3)
    tail = F.slice(words, -3, 3)
    return (
        _docs(spark, sf_dir)
        .withColumn("head3", head)
        .withColumn("tail3", tail)
        .filter(~F.arrays_overlap(F.col("head3"), F.col("tail3")))
        .select("doc_id")
    )


SQL_R4 = """
WITH t AS (
  SELECT doc_id,
         string_split(text, ' ') AS w
  FROM documents)
SELECT doc_id FROM t
WHERE len(list_intersect(w[1:3], w[-3:])) = 0"""


def q_r5_to_r12_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5/R7/R8/R9/R10/R12: the JVM-safe normalization subset —
    trim, quote strip, trailing-dot strip, whitespace collapse,
    `=`-tighten, lowercase (ref: src/data_utilities.py:60-101).
    (R6's Python-regex lookarounds stay in the Arrow kernel and are
    covered by the differential unit tests, not this oracle.)"""
    c = F.col("text")
    c = F.trim(c)
    c = F.regexp_replace(c, "'", "")
    c = F.regexp_replace(c, r"\.\s*$", "")
    c = F.regexp_replace(c, r"\s+", " ")
    c = F.regexp_replace(c, r"(\b\w)\s*=\s*", r"$1=")
    c = F.lower(c)
    return _docs(spark, sf_dir).select("doc_id", c.alias("norm_text"))


SQL_R5_R12 = r"""
SELECT doc_id,
       lower(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           trim(text),
           '''', '', 'g'),
           '\.\s*$', ''),
           '\s+', ' ', 'g'),
           '(\b\w)\s*=\s*', '\1=', 'g')) AS norm_text
FROM documents"""


def q_r13_word_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R13: whitespace word split + explode (UDTF-equivalent)
    (ref: src/RE/data_utilities_re.py:47-49)."""
    return (
        _docs(spark, sf_dir)
        .filter(F.col("lang") == "en")
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
    )


SQL_R13 = """
SELECT doc_id, unnest(string_split(text, ' ')) AS word
FROM documents WHERE lang = 'en'"""


def q_a2_label_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: the fixed 5-class IOB label map as a relational mapping
    (ref: src/NER/data_utilities_ner.py:78-82)."""
    labels = local_frame(
        spark,
        [("O",), ("B-Drug",), ("I-Drug",), ("B-Effect",), ("I-Effect",)],
        "label string",
    )
    mapping = (
        F.when(F.col("label") == "O", 0)
        .when(F.col("label") == "B-Drug", 1)
        .when(F.col("label") == "I-Drug", 2)
        .when(F.col("label") == "B-Effect", 3)
        .otherwise(4)
    )
    return labels.select("label", mapping.cast("int").alias("label_id"))


SQL_A2 = """
SELECT label,
       CASE label WHEN 'O' THEN 0 WHEN 'B-Drug' THEN 1 WHEN 'I-Drug' THEN 2
                  WHEN 'B-Effect' THEN 3 ELSE 4 END AS label_id
FROM (VALUES ('O'), ('B-Drug'), ('I-Drug'), ('B-Effect'), ('I-Effect')) t(label)"""


def q_a7_class_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 (counts half): per-group label frequencies feeding class
    weights (ref: src/data_utilities.py:117-137) — here per-language
    word counts over documents."""
    return (
        _docs(spark, sf_dir)
        .select("lang", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("w").alias("n_distinct"),
        )
    )


SQL_A7 = """
WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
SELECT lang, count(*) AS n_tokens, count(DISTINCT w) AS n_distinct
FROM t GROUP BY lang"""


def q_join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hash join chain (M7's join shape): customer ->
    nation -> region rollup."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        customer.join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


SQL_JOIN_BROADCAST = """
SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name"""


def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join — the canonical operator Spark's built-ins LACK
    (the brief's example of one), composed from existing DataFrame
    ops: for every click event, the user's most recent purchase AT OR
    BEFORE the click (NULL when none). Implementation is the
    union-sort-carry pattern: tag probe/build rows, sort per user by
    (ts, side) with build before probe at equal ts (inclusive <=
    semantics), and carry the last non-null build struct forward with
    an unbounded-preceding window — ONE shuffle on the user key, no
    range explosion, no per-row UDF. At 100 TB this beats the
    inequality-join formulation (which Spark would plan as a broadcast
    nested loop or a range join) because the sort-carry is linear in
    events per user.

    Determinism: multiple purchases at one (user, ts) are collapsed to
    the one with the max event_id BEFORE the carry (max_by), so the
    as-of winner is unique; DuckDB's native ASOF LEFT JOIN mirrors
    over the identically-deduped build side."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    probe = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    build = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("b_value"))
        .select("user_id", F.col("ts").alias("b_ts"), "b_value")
    )
    tagged = probe.select(
        "user_id",
        "ts",
        F.lit(1).alias("is_probe"),
        "event_id",
        "value",
        F.lit(None).cast("struct<b_ts:timestamp,b_value:double>").alias(
            "b"
        ),
    ).unionByName(
        build.select(
            "user_id",
            F.col("b_ts").alias("ts"),
            F.lit(0).alias("is_probe"),
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("double").alias("value"),
            F.struct("b_ts", "b_value").alias("b"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = tagged.withColumn(
        "asof", F.last("b", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("is_probe") == 1).select(
        "event_id",
        "user_id",
        "ts",
        F.round("value", 6).alias("value"),
        F.col("asof.b_ts").alias("asof_ts"),
        F.round(F.col("asof.b_value"), 6).alias("asof_value"),
    )


SQL_JOIN_ASOF = """
WITH probe AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'click'),
build AS (
  SELECT user_id, ts AS b_ts, arg_max(value, event_id) AS b_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT p.event_id, p.user_id, p.ts, round(p.value, 6) AS value,
       b.b_ts AS asof_ts, round(b.b_value, 6) AS asof_value
FROM probe p
ASOF LEFT JOIN build b
  ON p.user_id = b.user_id AND p.ts >= b.b_ts"""


RANGE_WINDOW_S = 1800  # attribution window = bucket width (30 min)


def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (interval containment) — with as-of, the other
    classic operator Spark's built-ins lack: attribute every click to
    the purchase windows [purchase_ts, +30 min) it falls into, per
    user. The naive formulation (ON user AND ts BETWEEN s AND e) plans
    as a nested-loop join; the scale shape is BUCKETIZATION: with
    bucket width == window width every interval covers at most TWO
    time buckets, so exploding intervals to their buckets turns the
    range join into an EQUI-join on (user, bucket) + an exact range
    filter — a hash join whose fan-out is bounded by 2x the interval
    count, at any scale. The bucket key is internal (the oracle joins
    on raw containment), so no cross-engine bucket parity is needed.
    Per-window sums round to 4dp (the agg_two_phase precedent for
    order-nondeterministic double sums)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    iv = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("iv_id"),
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    bucket = lambda c: F.floor(  # noqa: E731
        F.unix_timestamp(c) / RANGE_WINDOW_S
    )
    iv_b = iv.withColumn(
        "bucket", F.explode(F.sequence(bucket(F.col("s")), bucket(F.col("e"))))
    )
    ck_b = clicks.withColumn("bucket", bucket(F.col("ts")))
    pairs = ck_b.join(iv_b, ["user_id", "bucket"]).filter(
        (F.col("ts") >= F.col("s")) & (F.col("ts") < F.col("e"))
    )
    hits = pairs.groupBy("iv_id").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("value").alias("_sum")
    )
    return iv.join(hits, "iv_id", "left").select(
        "iv_id",
        F.coalesce("_n", F.lit(0)).cast("long").alias("n_clicks"),
        F.round(F.coalesce("_sum", F.lit(0.0)), 4).alias("sum_value"),
    )


SQL_JOIN_RANGE = """
WITH clicks AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
iv AS (
  SELECT event_id AS iv_id, user_id, ts AS s,
         ts + INTERVAL 30 MINUTE AS e
  FROM events WHERE event_type = 'purchase')
SELECT iv.iv_id,
       CAST(count(c.ts) AS BIGINT) AS n_clicks,
       round(coalesce(sum(c.value), 0), 4) AS sum_value
FROM iv LEFT JOIN clicks c
  ON c.user_id = iv.user_id AND c.ts >= iv.s AND c.ts < iv.e
GROUP BY iv.iv_id"""


def q_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti joins — the eval P/R machinery (M10,
    ref: src/FINALMODEL/test_final.py:13-32 semantics): orders with
    vs without high-value lineitems."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_extendedprice") > 5000
    )
    hits = orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey, "left_semi"
    ).select(F.lit("hit").alias("kind"), "o_orderkey")
    misses = orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey, "left_anti"
    ).select(F.lit("miss").alias("kind"), "o_orderkey")
    return hits.unionByName(misses)


SQL_JOIN_SEMI_ANTI = """
SELECT 'hit' AS kind, o_orderkey FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_extendedprice > 5000)
UNION ALL
SELECT 'miss' AS kind, o_orderkey FROM orders
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_extendedprice > 5000)"""


def q_agg_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregation with map-side partials (M9's agg shape) over
    the events table."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.countDistinct("user_id").alias("n_users"),
    )


SQL_AGG_TWO_PHASE = """
SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value,
       min(ts) AS first_ts, max(ts) AS last_ts,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type"""


HLL_RSD = 0.05  # approx_count_distinct relative standard deviation
# Certificate bound as a RELATIVE error. The estimate is DETERMINISTIC
# for fixed data (register-wise-max merge, order-independent), and the
# observed max relative error on the pinned seeded datasets is 0.067
# (sf0.1; sf0.01: 0.007, sf0.001: 0.0). The bound is ~3x that observed
# maximum: tight enough that the certificate still attests real sketch
# quality (a sketch off by 25% FAILS), wide enough that the pinned
# datasets pass deterministically with margin. (An earlier 10*rsd=0.5
# envelope would have passed a sketch off by half — r5 ADVICE.)
HLL_CERT_BOUND = 4 * HLL_RSD


def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct-count SCALE lever: approx_count_distinct
    (HyperLogLog++ — constant-size mergeable registers, no per-key
    shuffle state like the exact countDistinct expansion). HLL merging
    is register-wise max, so the estimate is DETERMINISTIC for fixed
    data regardless of partitioning — but DuckDB's HLL is a different
    sketch, so cross-engine the checkable claim is the ERROR BOUND:
    emit per group the exact count plus a certificate that
    |approx - exact| <= HLL_CERT_BOUND * exact (a verified-once,
    pinned bound — see HLL_CERT_BOUND — rather than a small-sigma
    probabilistic one that could legitimately fail and flake the
    driver gate). The oracle recomputes the exact count and asserts
    the certificate universe. Completes the sketch family beside
    MinHash/SimHash/GK/Bloom."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id", rsd=HLL_RSD).alias("_n_approx"),
    )
    bound = HLL_CERT_BOUND
    return agg.select(
        "event_type",
        F.col("n_exact").cast("long").alias("n_exact"),
        (
            F.abs(F.col("_n_approx") - F.col("n_exact"))
            <= F.lit(bound) * F.col("n_exact")
        ).alias("within_bound"),
    )


SQL_AGG_APPROX_DISTINCT = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS within_bound
FROM events GROUP BY event_type"""


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k (the similarity ranker's relational core): top-3
    orders by totalprice per priority."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
    )


SQL_WINDOW_TOPK = """
SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
  SELECT *, row_number() OVER (
      PARTITION BY o_orderpriority
      ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders) t
WHERE rank <= 3"""


def q_window_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows: events per type per hour."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


SQL_WINDOW_TUMBLING = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2"""


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: per-user event streams split into
    sessions wherever inactivity exceeds SESSION_GAP_US, then one row
    per session (bounds + exact counts). The standard clickstream
    operator: lag -> boundary flag -> running sum = session index, all
    over ONE per-user window (a single shuffle on user_id; session
    aggregation reuses the partitioning). Gap arithmetic is integer
    microseconds (unix_micros / epoch_us) — exact cross-engine; ties
    on ts break by event_id so the boundary flags are deterministic."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet carries TIMESTAMP_NTZ (pandas writer); unix_micros wants
    # TIMESTAMP. The cast applies the session-tz offset, which cancels
    # in gap DIFFERENCES, so sessions are identical to DuckDB's
    # tz-free epoch_us under any fixed-offset session timezone (the
    # container default is UTC — DST-free by construction).
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.lag(us).over(w)
    new_session = F.when(
        prev_us.isNull() | (us - prev_us > SESSION_GAP_US), 1
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        events.withColumn("_new", new_session)
        .withColumn("session_idx", F.sum("_new").over(run).cast("long"))
        .groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.countDistinct("event_type").alias("n_types"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


SQL_SESSIONIZE = f"""
WITH o AS (
  SELECT user_id, event_id, ts, event_type, value, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM events),
f AS (
  SELECT *, CASE WHEN prev_us IS NULL
                   OR us - prev_us > {SESSION_GAP_US}
                 THEN 1 ELSE 0 END AS new_s
  FROM o),
s AS (
  SELECT *, sum(new_s) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM f)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       count(*) AS n_events, min(ts) AS session_start,
       max(ts) AS session_end,
       count(DISTINCT event_type) AS n_types,
       round(sum(value), 4) AS sum_value
FROM s GROUP BY user_id, session_idx"""


def q_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME gap sessions via Spark's built-in session_window — an
    independent implementation of the semantics q_sessionize builds
    from lag/running-sum, checked against the same lag-CTE oracle:
    two session definitions (Catalyst's native merging aggregation vs
    the window construction) must produce identical (user, start,
    n_events) rows. In streaming this exact expression runs stateful
    with a watermark; batch here pins its semantics."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            # session_window.start == min(ts); .end is last+gap, which
            # has no lag-side counterpart — project the start only
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
        )
    )


# Boundary, verified empirically on Spark 4.1: session_window MERGES
# an event landing at exactly prev + gap (two events 30:00 apart form
# ONE session), i.e. a new session starts only when the gap is
# STRICTLY exceeded — the same `>` rule as q_sessionize's lag
# construction, so both oracles share the boundary.
SQL_SESSIONIZE_NATIVE = f"""
WITH o AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM events),
f AS (
  SELECT *, CASE WHEN prev_us IS NULL
                   OR us - prev_us > {SESSION_GAP_US}
                 THEN 1 ELSE 0 END AS new_s
  FROM o),
s AS (
  SELECT *, sum(new_s) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM f)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM s GROUP BY user_id, session_idx"""


PCTS = (50, 95)


def q_event_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles per group by rank selection (the lower
    interpolation rule: element at floor((n-1)*p/100) of the sorted
    values) — deterministic and identical cross-engine, unlike
    interpolated or approximate percentiles whose float arithmetic
    differs. One window per group ranks the values; the selection is
    a filter on integer positions. At scale, approx_percentile is the
    sketch path; this is the exact path for when the answer must be
    reproducible (SLA reporting, regression gates)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    n = Window.partitionBy("event_type")
    ranked = events.select(
        "event_type",
        "value",
        (F.row_number().over(w) - 1).alias("_pos"),
        F.count(F.lit(1)).over(n).alias("_n"),
    )
    # ONE pass: explode the pct literals against the ranked rows and
    # filter on position — a per-pct unionByName would re-execute the
    # scan + both windows once per percentile
    pcts = F.explode(
        F.array(*[F.lit(p).cast("long") for p in PCTS])
    ).alias("pct")
    return (
        ranked.select("event_type", "value", "_pos", "_n", pcts)
        .filter(F.col("_pos") == F.floor((F.col("_n") - 1) * F.col("pct") / 100))
        .select(
            "event_type", "pct", F.round(F.col("value"), 6).alias("value")
        )
    )


APPROX_PCT_ACCURACY = 100  # GK sketch: rank error <= n / accuracy


def q_event_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for percentiles: percentile_approx (Greenwald-
    Khanna sketch — bounded-size state, map-side mergeable, no
    per-group global sort/window like the exact path). Sketch merge
    order is nondeterministic in a distributed agg, so the VALUE is
    not cross-engine checkable; what IS deterministic is the GK
    guarantee. The query therefore emits a per-(group, pct) CERTIFICATE:
    it looks up the returned element's true rank interval
    [count(<v), count(<=v)-1] and checks it lies within
    n/accuracy (+2 slack for target-rank convention differences) of
    the exact path's target rank. The oracle enumerates the same
    (event_type, pct) universe with within_bound=true — any bound
    violation or missing group hash-mismatches. The exact rank-selection
    form (q_event_percentiles) stays the reproducible-answer path."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    ap = (
        events.groupBy("event_type")
        .agg(
            F.percentile_approx(
                "value",
                F.array(*[F.lit(p / 100.0) for p in PCTS]),
                F.lit(APPROX_PCT_ACCURACY),
            ).alias("_vals"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "event_type",
            "_n",
            F.explode(
                F.arrays_zip(
                    F.array(*[F.lit(p).cast("long") for p in PCTS]).alias(
                        "pct"
                    ),
                    F.col("_vals").alias("v"),
                )
            ).alias("_pv"),
        )
        .select(
            "event_type",
            "_n",
            F.col("_pv")["pct"].alias("pct"),
            F.col("_pv")["v"].alias("_v"),
        )
    )
    ranks = (
        events.join(ap, "event_type")
        .groupBy("event_type", "pct", "_v", "_n")
        .agg(
            F.sum(
                F.when(F.col("value") < F.col("_v"), 1).otherwise(0)
            ).alias("_r_lo"),
            F.sum(
                F.when(F.col("value") <= F.col("_v"), 1).otherwise(0)
            ).alias("_r_hi"),
        )
    )
    target = F.floor((F.col("_n") - 1) * F.col("pct") / 100)
    tol = F.floor(F.col("_n") / APPROX_PCT_ACCURACY) + 2
    return ranks.select(
        "event_type",
        "pct",
        (
            (target >= F.col("_r_lo") - tol)
            & (target <= F.col("_r_hi") - 1 + tol)
        ).alias("within_bound"),
    )


SQL_EVENT_PERCENTILES_APPROX = f"""
SELECT DISTINCT event_type, CAST(pct AS BIGINT) AS pct,
       TRUE AS within_bound
FROM events
CROSS JOIN (SELECT unnest([{", ".join(str(p) for p in PCTS)}]) AS pct)"""


SQL_EVENT_PERCENTILES = f"""
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (
             PARTITION BY event_type
             ORDER BY value ASC, event_id ASC) - 1 AS pos,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events),
p AS (SELECT unnest([{", ".join(str(p) for p in PCTS)}]) AS pct)
SELECT event_type, CAST(pct AS BIGINT) AS pct,
       round(value, 6) AS value
FROM ranked JOIN p ON pos = CAST(floor((n - 1) * pct / 100) AS BIGINT)"""


QUERIES = {
    "r1_project_drop": q_r1_project_drop,
    "r2_distinct": q_r2_distinct,
    "r3_dropna": q_r3_dropna,
    "r4_overlap_filter": q_r4_overlap_filter,
    "r5_r12_normalize": q_r5_to_r12_normalize,
    "r13_word_explode": q_r13_word_explode,
    "a2_label_dictionary": q_a2_label_dictionary,
    "a7_class_counts": q_a7_class_counts,
    "join_broadcast_dims": q_join_broadcast_dims,
    "join_semi_anti": q_join_semi_anti,
    "join_asof": q_join_asof,
    "join_range": q_join_range,
    "agg_two_phase": q_agg_two_phase,
    "agg_approx_distinct": q_agg_approx_distinct,
    "window_topk": q_window_topk,
    "window_tumbling_agg": q_window_tumbling_agg,
    "sessionize": q_sessionize,
    "sessionize_native": q_sessionize_native,
    "event_percentiles": q_event_percentiles,
    "event_percentiles_approx": q_event_percentiles_approx,
}

ORACLES = {
    "r1_project_drop": SQL_R1,
    "r2_distinct": SQL_R2,
    "r3_dropna": SQL_R3,
    "r4_overlap_filter": SQL_R4,
    "r5_r12_normalize": SQL_R5_R12,
    "r13_word_explode": SQL_R13,
    "a2_label_dictionary": SQL_A2,
    "a7_class_counts": SQL_A7,
    "join_broadcast_dims": SQL_JOIN_BROADCAST,
    "join_semi_anti": SQL_JOIN_SEMI_ANTI,
    "join_asof": SQL_JOIN_ASOF,
    "join_range": SQL_JOIN_RANGE,
    "agg_two_phase": SQL_AGG_TWO_PHASE,
    "agg_approx_distinct": SQL_AGG_APPROX_DISTINCT,
    "window_topk": SQL_WINDOW_TOPK,
    "window_tumbling_agg": SQL_WINDOW_TUMBLING,
    "sessionize": SQL_SESSIONIZE,
    "sessionize_native": SQL_SESSIONIZE_NATIVE,
    "event_percentiles": SQL_EVENT_PERCENTILES,
    "event_percentiles_approx": SQL_EVENT_PERCENTILES_APPROX,
}
