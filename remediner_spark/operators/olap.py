"""Canonical OLAP queries over the warehouse tables (TPC-H shapes).

The engine's relational breadth demonstrated on the two most-cited
TPC-H forms, re-expressed with this repo's integer-first oracle
discipline: all money/discount/tax arithmetic runs on exact integer
cents (round(x*100) at ingest, integer products and sums thereafter),
so Spark and DuckDB agree bit-for-bit with no float-summation-order
exposure; the only double ops are final single divisions of exact
integers, rounded 6dp identically on both engines.

* ``tpch_q1`` — pricing summary report: scan-filter on l_shipdate
  (pushed to parquet), 4-group aggregate with map-side partials.
  Sum magnitudes stay < 2^63 under Spark 4 ANSI (cents*1e4 scaled
  charge over sf0.1's row count is ~1e16).
* ``tpch_q3`` — shipping-priority revenue: BROADCAST the customer
  dimension (vocabulary-sized), shuffle-join orders<->lineitem on
  orderkey, top-10 via TakeOrdered (per-partition heap, never a
  global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

Q1_CUTOFF = "1998-09-02"
Q3_SEGMENT = "BUILDING"
Q3_DATE = "1997-06-30"
Q3_TOPN = 10


def _cents(col):
    return F.round(col * 100, 0).cast("long")


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") <= F.lit(Q1_CUTOFF).cast("timestamp_ntz")
    )
    qty = F.round(F.col("l_quantity"), 0).cast("long")
    ep_c = _cents(F.col("l_extendedprice"))
    disc = _cents(F.col("l_discount"))  # discount in integer percent*1
    tax = _cents(F.col("l_tax"))
    pre = li.select(
        "l_returnflag",
        "l_linestatus",
        qty.alias("qty"),
        ep_c.alias("ep_c"),
        disc.alias("disc"),
        tax.alias("tax"),
        (ep_c * (100 - disc)).alias("disc_price_c"),
        (ep_c * (100 - disc) * (100 + tax)).alias("charge_c"),
    )
    agg = pre.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qty").alias("sum_qty"),
        F.sum("ep_c").alias("sum_base_price_c"),
        F.sum("disc_price_c").alias("sum_disc_price_c"),
        F.sum("charge_c").alias("sum_charge_c"),
        F.count(F.lit(1)).alias("count_order"),
        F.sum("disc").alias("_sum_disc"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price_c",
        "sum_disc_price_c",
        "sum_charge_c",
        F.round(F.col("sum_qty") / F.col("count_order"), 6).alias("avg_qty"),
        F.round(
            F.col("sum_base_price_c") / F.col("count_order"), 6
        ).alias("avg_price_c"),
        F.round(F.col("_sum_disc") / F.col("count_order"), 6).alias(
            "avg_disc_pct"
        ),
        "count_order",
    )


SQL_TPCH_Q1 = f"""
WITH pre AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity, 0) AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS ep_c,
         CAST(round(l_discount * 100, 0) AS BIGINT) AS disc,
         CAST(round(l_tax * 100, 0) AS BIGINT) AS tax
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF} 00:00:00')
SELECT l_returnflag, l_linestatus,
       CAST(sum(qty) AS BIGINT) AS sum_qty,
       CAST(sum(ep_c) AS BIGINT) AS sum_base_price_c,
       CAST(sum(ep_c * (100 - disc)) AS BIGINT) AS sum_disc_price_c,
       CAST(sum(ep_c * (100 - disc) * (100 + tax)) AS BIGINT)
         AS sum_charge_c,
       round(sum(qty) * 1.0 / count(*), 6) AS avg_qty,
       round(sum(ep_c) * 1.0 / count(*), 6) AS avg_price_c,
       round(sum(disc) * 1.0 / count(*), 6) AS avg_disc_pct,
       count(*) AS count_order
FROM pre GROUP BY l_returnflag, l_linestatus"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_mktsegment") == Q3_SEGMENT)
        .select("c_custkey")
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate") < F.lit(Q3_DATE).cast("timestamp_ntz")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") > F.lit(Q3_DATE).cast("timestamp_ntz")
    )
    rev_c = _cents(F.col("l_extendedprice")) * (
        100 - _cents(F.col("l_discount"))
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev_c).alias("revenue_c"))
        .orderBy(F.col("revenue_c").desc(), F.col("l_orderkey").asc())
        .limit(Q3_TOPN)
    )


SQL_TPCH_Q3 = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
            AS BIGINT) AS revenue_c
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{Q3_SEGMENT}'
  AND o_orderdate < TIMESTAMP '{Q3_DATE} 00:00:00'
  AND l_shipdate > TIMESTAMP '{Q3_DATE} 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_c DESC, l_orderkey ASC LIMIT {Q3_TOPN}"""


Q5_DATE_LO, Q5_DATE_HI = "1995-01-01", "1999-01-01"


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier revenue by nation): a SIX-table
    join — region -> nation -> {customer, supplier} -> orders ->
    lineitem with the local-supply condition c_nationkey ==
    s_nationkey. The dimension chain (region/nation/customer/supplier)
    broadcasts; the orders<->lineitem fact join shuffles on orderkey;
    Catalyst orders the joins. Revenue in exact integer cents."""
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= F.lit(Q5_DATE_LO).cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit(Q5_DATE_HI).cast("timestamp_ntz"))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rev_c = _cents(F.col("l_extendedprice")) * (
        100 - _cents(F.col("l_discount"))
    )
    return (
        region.join(nation, region.r_regionkey == nation.n_regionkey)
        .join(customer, nation.n_nationkey == customer.c_nationkey)
        .join(orders, customer.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(
            supplier,
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .groupBy("n_name")
        .agg(F.sum(rev_c).alias("revenue_c"))
    )


SQL_TPCH_Q5 = f"""
SELECT n_name,
       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
            AS BIGINT) AS revenue_c
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
WHERE o_orderdate >= TIMESTAMP '{Q5_DATE_LO} 00:00:00'
  AND o_orderdate < TIMESTAMP '{Q5_DATE_HI} 00:00:00'
GROUP BY n_name"""


def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-hierarchy rollup (the hypertable continuous-aggregate
    shape): event counts at (day, event_type), (day), and grand-total
    grains in ONE pass via ROLLUP — Spark plans a single aggregation
    with grouping-set expansion, not three scans. grouping_id
    disambiguates NULL-as-total from NULL-as-value cross-engine."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    return (
        events.rollup(day, F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping_id().alias("grouping_lvl"),
        )
        .select("day", "event_type", "n", "grouping_lvl")
    )


SQL_EVENT_ROLLUP = """
SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n,
       CAST(grouping(date_trunc('day', ts)) * 2
            + grouping(event_type) AS BIGINT) AS grouping_lvl
FROM events
GROUP BY ROLLUP (date_trunc('day', ts), event_type)"""


def q_event_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day-of-week): all four grouping sets in
    one pass — the full grouping-set lattice ROLLUP only walks one
    path of. grouping_id disambiguates NULL-as-total; dow is an
    the ISO weekday (Mon=1..Sun=7: Spark weekday()+1 == DuckDB
    isodow() — Spark's dayofweek() is 1=Sunday, DuckDB's is 0=Sunday,
    so neither engine's native numbering matches the other's)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    dow = (F.weekday(F.col("ts")) + 1).alias("dow")
    return (
        events.cube(F.col("event_type"), dow)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_cents(F.col("value"))).alias("cents"),
            F.grouping_id().alias("grouping_lvl"),
        )
        .select("event_type", "dow", "n", "cents", "grouping_lvl")
    )


SQL_EVENT_CUBE = """
SELECT event_type, CAST(isodow(ts) AS INT) AS dow,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents,
       CAST(grouping(event_type) * 2
            + grouping(isodow(ts)) AS BIGINT) AS grouping_lvl
FROM events
GROUP BY CUBE (event_type, isodow(ts))"""


MAVG_FRAME = 6  # ROWS BETWEEN 6 PRECEDING AND CURRENT ROW


def q_event_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user moving average over a 7-row window frame (ROWS BETWEEN
    6 PRECEDING AND CURRENT ROW) — the sliding-frame window surface.
    Integer-cents sum in the frame (exact, order-free), ONE double
    division + 6dp round per row (same op sequence both engines);
    frame order (ts, event_id) is unique so the frame contents are
    deterministic.

    Scale shape: one shuffle on user_id, per-partition sort —
    the standard windowed-analytics plan; frames never cross users."""
    from pyspark.sql.window import Window

    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts", _cents(F.col("value")).alias("cents")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-MAVG_FRAME, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.sum("cents").over(w).alias("w_sum_cents"),
        F.count(F.lit(1)).over(w).alias("w_n"),
    ).select(
        "event_id",
        "user_id",
        "w_sum_cents",
        "w_n",
        F.round(
            F.col("w_sum_cents") / (F.lit(100.0) * F.col("w_n")), 6
        ).alias("w_avg"),
    )


SQL_EVENT_MOVING_AVG = f"""
WITH c AS (
  SELECT event_id, user_id, ts,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events),
w AS (
  SELECT event_id, user_id,
         CAST(sum(cents) OVER f AS BIGINT) AS w_sum_cents,
         CAST(count(*) OVER f AS BIGINT) AS w_n
  FROM c
  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {MAVG_FRAME} PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, w_sum_cents, w_n,
       round(w_sum_cents / (100.0 * w_n), 6) AS w_avg
FROM w"""


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user pivot of event_type into columns (count + cents sum
    per type) — the wide-table reshaping surface. The type list is
    EXPLICIT (Spark's pivot with inferred values would launch a
    distinct job and produce column sets that vary with the data;
    DuckDB's PIVOT has the same instability), so both engines compute
    fixed conditional aggregations: one user_id shuffle with map-side
    partials, same as any groupBy."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_type", _cents(F.col("value")).alias("cents")
    )
    aggs = []
    for t in EVENT_TYPES:
        is_t = F.when(F.col("event_type") == t, 1).otherwise(0)
        aggs.append(F.sum(is_t).cast("long").alias(f"n_{t}"))
        aggs.append(
            F.sum(F.when(F.col("event_type") == t, F.col("cents"))
                  .otherwise(F.lit(0).cast("long")))
            .cast("long")
            .alias(f"cents_{t}")
        )
    return events.groupBy("user_id").agg(*aggs)


def sql_event_pivot() -> str:
    cols = []
    for t in EVENT_TYPES:
        cols.append(
            f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) "
            f"AS BIGINT) AS n_{t}"
        )
        cols.append(
            f"CAST(sum(CASE WHEN event_type = '{t}' THEN "
            f"CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) "
            f"AS BIGINT) AS cents_{t}"
        )
    return f"""
SELECT user_id, {", ".join(cols)}
FROM events GROUP BY user_id"""


def q_event_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) — the inverse reshaping, run as a ROUND TRIP
    through q_event_pivot: wide per-user columns stack back to
    (user_id, event_type, n, cents_sum) rows, zero-count cells
    dropped. The oracle is the DIRECT long-form aggregation, so the
    gate proves pivot∘unpivot == identity on the aggregate, not just
    that two reshapes agree. stack() is a generator expression —
    map-side, no extra shuffle beyond the pivot's."""
    wide = q_event_pivot(spark, sf_dir)
    triples = ", ".join(
        f"'{t}', n_{t}, cents_{t}" for t in EVENT_TYPES
    )
    return wide.selectExpr(
        "user_id",
        f"stack({len(EVENT_TYPES)}, {triples}) "
        "AS (event_type, n, cents_sum)",
    ).where(F.col("n") > 0)


SQL_EVENT_UNPIVOT = """
SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents_sum
FROM events GROUP BY user_id, event_type"""


# sliding event-time window: 1 h window advancing every 30 min, so
# each event lands in window/slide = 2 overlapping windows
SLIDE_WIN_S = 3600
SLIDE_STEP_S = 1800


def q_event_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (F.window with a slide < width):
    counts + integer-cents volume per (window_start, event_type) with
    1 h windows every 30 min — the hopping-window shape streaming
    dashboards aggregate on.

    Spark expands each row into window/slide copies before the
    groupBy — map-side, the expansion never shuffles unaggregated.
    DuckDB mirrors by UNNESTing the 2 candidate window starts
    (slide-floor minus i*slide); window alignment is the shared
    epoch-0 origin."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        events.groupBy(
            F.window("ts", f"{SLIDE_WIN_S} seconds",
                     f"{SLIDE_STEP_S} seconds").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_cents(F.col("value"))).alias("cents"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n",
            "cents",
        )
    )


SQL_EVENT_SLIDING_WINDOW = f"""
SELECT window_start, event_type, count(*) AS n,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents
FROM (
  SELECT TIMESTAMP '1970-01-01 00:00:00'
           + (CAST(floor(epoch(ts) / {SLIDE_STEP_S}) AS BIGINT)
              * {SLIDE_STEP_S} - i * {SLIDE_STEP_S})
             * INTERVAL 1 SECOND AS window_start,
         event_type, value, ts
  FROM events, UNNEST(range({SLIDE_WIN_S // SLIDE_STEP_S})) AS r(i))
WHERE ts < window_start + INTERVAL {SLIDE_WIN_S} SECOND
GROUP BY window_start, event_type"""


QUERIES = {
    "tpch_q1": q_tpch_q1,
    "tpch_q3": q_tpch_q3,
    "tpch_q5": q_tpch_q5,
    "event_rollup": q_event_rollup,
    "event_moving_avg": q_event_moving_avg,
    "event_pivot": q_event_pivot,
    "event_unpivot": q_event_unpivot,
    "event_cube": q_event_cube,
    "event_sliding_window": q_event_sliding_window,
}

ORACLES = {
    "tpch_q1": SQL_TPCH_Q1,
    "tpch_q3": SQL_TPCH_Q3,
    "tpch_q5": SQL_TPCH_Q5,
    "event_rollup": SQL_EVENT_ROLLUP,
    "event_moving_avg": SQL_EVENT_MOVING_AVG,
    "event_pivot": sql_event_pivot(),
    "event_unpivot": SQL_EVENT_UNPIVOT,
    "event_cube": SQL_EVENT_CUBE,
    "event_sliding_window": SQL_EVENT_SLIDING_WINDOW,
}
