"""Relational operator coverage: the orchestration-layer analogues of the
OCR pipeline (explode = UNNEST, reweave = GROUP BY + ordered collect,
resume = LEFT ANTI JOIN, metrics = aggregates) exercised as TPC-H-style
queries over the driver test tables, each with a DuckDB oracle.

Plan-quality notes (verified via .explain("formatted")):
- scans prune columns (ReadSchema lists only used columns) and push
  filters (PushedFilters on l_shipdate etc.);
- small dimension joins (region/nation/customer at these SFs) broadcast;
- aggregates are partial (HashAggregate before exchange).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import load_tables


def ntz_epoch_seconds(col: str):
    """timestamp_ntz -> epoch seconds, independent of
    spark.sql.session.timeZone. Pure wall-clock arithmetic: the DuckDB
    oracles (epoch/epoch_ms) treat naive timestamps as UTC, while a
    cast through TIMESTAMP interprets the wall time in the session zone
    — verified to drift under America/New_York. timestampdiff on two
    TIMESTAMP_NTZ values never consults the zone."""
    return F.expr(f"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})")


# --------------------------------------------------------------- TPC-H-ish

def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: single-scan filter + groupBy aggregate (map-side
    partial agg; filter pushed to parquet)."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                            AS sum_qty,
       round(sum(l_extendedprice), 2)                       AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)    AS sum_disc_price,
       round(avg(l_quantity), 4)                            AS avg_qty,
       round(avg(l_discount), 4)                            AS avg_disc,
       count(*)                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join + agg + deterministic top-k via
    row_number (total order: revenue desc, orderkey asc)."""
    cust, orders, li = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    rev = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("o_orderdate") < F.lit("1998-03-15"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )
    # Deterministic top-10 via global sort + limit: Catalyst compiles this
    # to TakeOrderedAndProject (per-partition top-k + driver merge of k
    # rows), unlike an unpartitioned row_number window which would funnel
    # every aggregated row through a single reducer at scale.
    return (
        rev.orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
    )


ORACLE_Q3 = """
WITH rev AS (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
  WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15'
  GROUP BY 1, 2, 3
)
SELECT l_orderkey, revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
FROM (SELECT *, row_number() OVER (ORDER BY revenue DESC, l_orderkey ASC) AS rn FROM rev)
WHERE rn <= 10
"""


def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: 6-way star join (small dims broadcast) + agg."""
    region, nation, cust, orders, li, supp = load_tables(
        spark, sf_dir, "region", "nation", "customer", "orders", "lineitem", "supplier"
    )
    return (
        F.broadcast(region)
        .join(nation, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(cust, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


ORACLE_Q5 = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
GROUP BY n_name
"""


def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure pushed-down filter + single aggregate."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count("*").alias("n_items"),
    )


ORACLE_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q18_large_volume_customer(spark, sf_dir):
    """TPC-H Q18 shape: HAVING semi-join back onto orders/customer."""
    cust, orders, li = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    # Filter on the UNROUNDED sum — the oracle's HAVING sum(...) > 300 is
    # unrounded, and l_quantity is a double, so filtering the rounded
    # value would diverge for sums in (300, 300.005).
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum("l_quantity").alias("raw_qty"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
        .filter(F.col("raw_qty") > 300)
        .drop("raw_qty")
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
    )


ORACLE_Q18 = """
SELECT c_name, c_custkey, o_orderkey,
       round(o_totalprice, 2) AS totalprice, total_qty
FROM (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
)
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS rewritten as a LEFT SEMI join (the orders
    side never duplicates however many lineitems match)."""
    orders, li = load_tables(spark, sf_dir, "orders", "lineitem")
    late = li.filter(F.col("l_shipdate") >= F.lit("1998-01-01"))
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-07-01"))
            & (F.col("o_orderdate") < F.lit("1997-10-01"))
        )
        .join(late, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


ORACLE_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-07-01' AND o_orderdate < TIMESTAMP '1997-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate >= TIMESTAMP '1998-01-01')
GROUP BY o_orderpriority
"""


def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: LEFT OUTER join + two-level aggregation (orders
    per customer, then customers per order-count; zero-order customers
    kept by the outer join)."""
    cust, orders = load_tables(spark, sf_dir, "customer", "orders")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


ORACLE_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: conditional aggregation over a (broadcast) part
    join — promo revenue share of one ship month."""
    li, part = load_tables(spark, sf_dir, "lineitem", "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-09-01"))
            & (F.col("l_shipdate") < F.lit("1997-10-01"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


ORACLE_Q14 = """
SELECT round(
         100 * sum(CASE WHEN p_type = 'PROMO'
                        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
         / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'
"""


def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: per-group average joined back against the fact
    table (agg-then-join; the per-part averages are small and
    broadcast). l_quantity is integral in the test data and doubles sum
    small integers exactly, so the 0.2*avg threshold is bit-identical
    across engines."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    thresh = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_thresh")
    )
    small = li.join(
        F.broadcast(thresh), F.col("l_partkey") == F.col("t_partkey")
    ).filter(F.col("l_quantity") < F.col("qty_thresh"))
    return small.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
        F.count("*").alias("n_items"),
    )


ORACLE_Q17 = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
       count(*) AS n_items
FROM lineitem l
JOIN (SELECT l_partkey AS t_partkey, 0.2 * avg(l_quantity) AS qty_thresh
      FROM lineitem GROUP BY l_partkey) t
  ON l.l_partkey = t.t_partkey
WHERE l.l_quantity < t.qty_thresh
"""


def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: the same dimension (nation) joined twice under
    different roles (supplier side vs customer side), a symmetric
    either-direction pair filter, and a year rollup. year() over
    timestamp_ntz is pure wall-clock — tz-independent on both engines."""
    nation, cust, orders, li, supp = load_tables(
        spark, sf_dir, "nation", "customer", "orders", "lineitem", "supplier"
    )
    # Catalyst cannot push a cross-side disjunction below the joins, so
    # pre-filter BOTH nation branches to the two named nations before any
    # fact join: supplier/customer rows outside the pair die at the first
    # (broadcast) join instead of surviving li⋈supp⋈orders⋈cust. The
    # symmetric-pair disjunction stays post-join only to drop the two
    # same-nation combinations.
    names = ["NATION_1", "NATION_2"]
    n1 = F.broadcast(
        nation.filter(F.col("n_name").isin(names))
        .select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    )
    n2 = F.broadcast(
        nation.filter(F.col("n_name").isin(names))
        .select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    )
    supp2 = supp.join(n1, F.col("s_nationkey") == F.col("sn_key")).select(
        "s_suppkey", "supp_nation"
    )
    cust2 = cust.join(n2, F.col("c_nationkey") == F.col("cn_key")).select(
        "c_custkey", "cust_nation"
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(supp2, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust2, F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


ORACLE_Q7 = """
SELECT supp_nation, cust_nation, l_year,
       round(sum(volume), 2) AS revenue, count(*) AS n_items
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
)
GROUP BY supp_nation, cust_nation, l_year
"""


def q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 shape: disjunction of conjunctive (brand, size,
    quantity) clauses across a join — Catalyst pushes the common
    l_quantity/p_size bounds to the scans and evaluates the disjunction
    post-join."""
    li, part = load_tables(spark, sf_dir, "lineitem", "part")
    joined = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.filter(clause).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_items"),
    )


ORACLE_Q19 = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


# -------------------------------------------------- orchestration analogues

def window_topk_orders_per_customer(spark, sf_dir):
    """Window function: top-3 orders per customer (deterministic total
    order)."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "rank",
        )
    )


ORACLE_WINDOW_TOPK = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rank
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
)
WHERE rank <= 3
"""


def events_metrics_agg(spark, sf_dir):
    """Metrics-table aggregate: per event type counts/uniques/sums."""
    (events,) = load_tables(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


ORACLE_EVENTS_METRICS = """
SELECT event_type, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(sum(value), 2) AS sum_value,
       round(avg(value), 4) AS avg_value
FROM events GROUP BY event_type
"""


def events_tumbling_window(spark, sf_dir):
    """Hourly tumbling-window aggregate (the batch shape of the
    Structured Streaming windowed agg; window start emitted as epoch
    seconds to keep hashes engine-neutral)."""
    (events,) = load_tables(spark, sf_dir, "events")
    # window() over the timestamp_ntz column directly: ntz windows align
    # on wall-clock hours and the start is emitted as a tz-independent
    # epoch (unix_timestamp on the start would re-introduce session-tz
    # dependence).
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            ntz_epoch_seconds("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


ORACLE_TUMBLING = """
SELECT epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT AS window_start,
       event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


def explode_token_counts(spark, sf_dir):
    """Explode = UNNEST (the documents->spans work-unit primitive):
    token counts per document via explode."""
    (docs,) = load_tables(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    return tokens.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
    )


ORACLE_EXPLODE_TOKENS = """
SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
GROUP BY doc_id
"""


def reweave_roundtrip(spark, sf_dir):
    """Ordered reassembly (the span-reweave primitive): split text into
    positioned tokens, shuffle through a groupBy, reassemble ordered by
    position and prove equality with the original."""
    (docs,) = load_tables(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "text",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
    )
    rebuilt = (
        toks.groupBy("doc_id", "text")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("rebuilt")
        )
        .select(
            "doc_id",
            (F.col("rebuilt") == F.col("text")).alias("roundtrip_ok"),
        )
    )
    return rebuilt


ORACLE_REWEAVE = """
SELECT doc_id, (string_agg(tok, ' ' ORDER BY pos) = any_value(text)) AS roundtrip_ok
FROM (
  SELECT doc_id, text,
         unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
)
GROUP BY doc_id
"""


SESSION_GAP_MIN = 30


def events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): lag + running sum of
    session-break flags per user — the batch shape of the stateful
    streaming sessionizer in ocrs_spark.streaming."""
    (events,) = load_tables(spark, sf_dir, "events")
    # Parquet timestamps are timestamp_ntz; epoch must be tz-independent.
    events = events.withColumn("ts_epoch", ntz_epoch_seconds("ts"))
    w = Window.partitionBy("user_id").orderBy("ts_epoch", "event_id")
    flagged = events.withColumn(
        "new_session",
        (
            F.col("ts_epoch") - F.lag("ts_epoch", 1, 0).over(w)
            > SESSION_GAP_MIN * 60
        ).cast("int"),
    )
    sessions = flagged.withColumn("session_idx", F.sum("new_session").over(w))
    return sessions.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.min("ts_epoch").alias("session_start"),
        F.max("ts_epoch").alias("session_end"),
    )


# Shared sessionization CTE body (used by the batch oracle here and the
# streaming closed-sessions oracle in ops.streamrows).
SESSIONS_CTE = f"""flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN (epoch_ms(ts) // 1000) - lag((epoch_ms(ts) // 1000), 1, 0)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > {SESSION_GAP_MIN * 60} THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  -- DuckDB's windowed sum over INT is HUGEINT, which degrades to float64
  -- under pandas conversion (3.0 vs Spark's bigint 3) — cast to BIGINT so
  -- the driver's pandas-based canonicalizer hashes identically.
  SELECT *, (sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id))::BIGINT AS session_idx
  FROM flagged
),
session_aggs AS (
  SELECT user_id, session_idx, count(*) AS n_events,
         round(sum(value), 2) AS sum_value,
         min((epoch_ms(ts) // 1000)) AS session_start,
         max((epoch_ms(ts) // 1000)) AS session_end
  FROM sessions GROUP BY user_id, session_idx
)"""

ORACLE_SESSIONIZE = f"""
WITH {SESSIONS_CTE}
SELECT user_id, session_idx, n_events, sum_value, session_start, session_end
FROM session_aggs
"""



def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returned items per customer in
    one quarter — 4-way join (two broadcastable dims), agg, then
    deterministic top-20 via orderBy+limit (TakeOrderedAndProject, not
    a single-reducer window)."""
    cust, orders, li, nation = load_tables(
        spark, sf_dir, "customer", "orders", "lineitem", "nation"
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-10-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
            & (F.col("l_returnflag") == "R")
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


ORACLE_Q10 = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q12_ship_delay_priority(spark, sf_dir):
    """TPC-H Q12 shape: bucket lineitems by ship delay (days from order
    to ship date, day-BOUNDARY crossings so it matches DuckDB's
    date_diff('day', ...) regardless of time-of-day) and count high- vs
    low-priority orders per bucket with conditional aggregation."""
    orders, li = load_tables(spark, sf_dir, "orders", "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    delay = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    bucket = (
        F.when(delay <= 30, "fast")
        .when(delay <= 60, "normal")
        .otherwise("late")
    )
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(bucket.alias("delay_bucket"), high.alias("high"))
        .groupBy("delay_bucket")
        .agg(
            F.sum("high").alias("high_line_count"),
            F.sum(1 - F.col("high")).alias("low_line_count"),
        )
    )


ORACLE_Q12 = """
SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 'fast'
            WHEN date_diff('day', o_orderdate, l_shipdate) <= 60 THEN 'normal'
            ELSE 'late' END AS delay_bucket,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
         AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT
         AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY delay_bucket
"""


def q16_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 shape: distinct supplier count per (brand, size) over
    the distinct part-supplier pairs observed in lineitem (the schema's
    partsupp analogue), excluding one brand and an anti-joined supplier
    blacklist (low account balance standing in for complaints)."""
    li, part, supp = load_tables(spark, sf_dir, "lineitem", "part", "supplier")
    # No pre-dedup of (l_partkey, l_suppkey): countDistinct and both
    # joins (broadcast anti + broadcast inner) are multiplicity
    # insensitive, so the distinct-pairs exchange the oracle's derived
    # table spells out is provably redundant — the distinct-aggregate's
    # own partial pass dedups (brand, size, suppkey) map-side instead.
    # One full-lineitem shuffle removed (r6: 3 Exchange -> 2).
    ps = li.select("l_partkey", "l_suppkey")
    bad = supp.filter(F.col("s_acctbal") < 1000).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    return (
        ps.join(F.broadcast(bad), "l_suppkey", "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("p_brand") != "Brand#45")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


ORACLE_Q16 = """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON l_partkey = p_partkey
WHERE p_brand != 'Brand#45'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
GROUP BY p_brand, p_size
"""


def q20_promo_part_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers who shipped more than a threshold
    quantity of PROMO parts — correlated quantity aggregate reduced to
    a grouped aggregate + semi join back to the supplier dimension."""
    li, part, supp, nation = load_tables(
        spark, sf_dir, "lineitem", "part", "supplier", "nation"
    )
    promo_qty = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("p_type") == "PROMO")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("promo_qty"))
        .filter(F.col("promo_qty") > 50)
    )
    return (
        supp.join(
            promo_qty, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


ORACLE_Q20 = """
SELECT s_suppkey, s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'PROMO'
  GROUP BY l_suppkey
  HAVING sum(l_quantity) > 50
)
"""


def q22_idle_balances(spark, sf_dir):
    """TPC-H Q22 shape: customers with above-average positive balance
    and no URGENT orders — scalar aggregate (broadcast single row)
    feeding a filter, anti-join against a filtered orders subset,
    grouped by a derived segment. (Every synthetic customer has at
    least one order, so the canonical no-orders predicate would be
    structurally empty — the urgent-orders variant keeps the same plan
    shape with a non-vacuous result.)"""
    cust, orders = load_tables(spark, sf_dir, "customer", "orders")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, "c_custkey", "left_anti")
        .groupBy((F.col("c_nationkey") % 5).alias("cntry_seg"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


ORACLE_Q22 = """
SELECT (c_nationkey % 5) AS cntry_seg, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY cntry_seg
"""


def q2_best_supplier(spark, sf_dir):
    """TPC-H Q2 shape: for each qualifying part, the best supplier by
    the correlated-min criterion — distinct part-supplier pairs from
    lineitem (the schema's partsupp analogue) joined to broadcast dims,
    ranked per part with a window (partitioned by part key, so no
    global funnel) and kept at rank 1. s_acctbal stands in for
    ps_supplycost (the synthetic schema carries no supply cost)."""
    li, part, supp, nation = load_tables(
        spark, sf_dir, "lineitem", "part", "supplier", "nation"
    )
    ps = li.select("l_partkey", "l_suppkey").distinct()
    w = Window.partitionBy("p_partkey").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey")
    )
    return (
        ps.join(
            F.broadcast(part.filter(F.col("p_size") < 10)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == 1)
        .select("p_partkey", "p_brand", "s_name", "s_acctbal", "n_name")
    )


ORACLE_Q2 = """
SELECT p_partkey, p_brand, s_name, s_acctbal, n_name
FROM (
  SELECT p_partkey, p_brand, s_name, s_acctbal, n_name,
         row_number() OVER (PARTITION BY p_partkey
                            ORDER BY s_acctbal DESC, s_suppkey ASC) AS rank
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_size < 10
)
WHERE rank = 1
"""


def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: a nation's market share inside one region's
    market for one part type, by order year — a six-table star join
    with conditional-share aggregation. Dimensions broadcast; the only
    shuffle is the final per-year aggregate."""
    region, nation, cust, supp, part, orders, li = load_tables(
        spark, sf_dir, "region", "nation", "customer", "supplier", "part", "orders", "lineitem"
    )
    n_cust = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("cn_key"))
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part.filter(F.col("p_type") == "STANDARD")),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(F.sum(target) / F.sum(vol), 4).alias("mkt_share"),
            F.round(F.sum(vol), 2).alias("total_volume"),
        )
    )


ORACLE_Q8 = """
SELECT year(o_orderdate) AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_1'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_volume
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'STANDARD' AND r_name = 'EUROPE'
GROUP BY o_year
"""


def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by supplier nation and order year over a
    part-name substring filter. The synthetic schema has no
    ps_supplycost, so cost is surrogated as 10% of p_retailprice per
    unit — the aggregation/join shape (and the LIKE pushdown) is what
    the query exercises."""
    nation, supp, part, orders, li = load_tables(
        spark, sf_dir, "nation", "supplier", "part", "orders", "lineitem"
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * 0.1 * F.col("l_quantity")
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_name").like("%gear%"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("supp_nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
    )


ORACLE_Q9 = """
SELECT n_name AS supp_nation, year(o_orderdate) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - p_retailprice * 0.1 * l_quantity), 2) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%gear%'
GROUP BY supp_nation, o_year
"""


def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape: per-part value for one nation's suppliers,
    kept only above a fraction of the global total — a grouped
    aggregate compared against a broadcast scalar aggregate of the
    same relation (the correlated HAVING). Value surrogates
    ps_supplycost * ps_availqty with summed extended price."""
    nation, supp, li = load_tables(spark, sf_dir, "nation", "supplier", "lineitem")
    nat_supp = (
        supp.join(F.broadcast(nation.filter(F.col("n_name") == "NATION_1")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    base = li.join(
        F.broadcast(nat_supp), F.col("l_suppkey") == F.col("s_suppkey")
    ).select("l_partkey", "l_extendedprice")
    per_part = base.groupBy("l_partkey").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("part_value")
    )
    total = base.agg((F.sum("l_extendedprice") * 0.001).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
    )


ORACLE_Q11 = """
WITH base AS (
  SELECT l_partkey, l_extendedprice
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_1'
)
SELECT l_partkey, round(sum(l_extendedprice), 2) AS part_value
FROM base
GROUP BY l_partkey
HAVING round(sum(l_extendedprice), 2) >
       (SELECT sum(l_extendedprice) * 0.001 FROM base)
"""


def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the revenue view (per-supplier sum over a
    three-month ship window) self-compared against its own maximum —
    scalar max broadcast back, no global-window funnel. Revenue is
    rounded on both engines before the equality so the max-matching
    set is ulp-stable across fold orders."""
    supp, li = load_tables(spark, sf_dir, "supplier", "lineitem")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


ORACLE_Q15 = """
WITH revenue AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: suppliers whose lineitem was the only late one
    in a multi-supplier finished order — a semi join (another supplier
    participated) plus an anti join (no other supplier was late) on a
    compound same-order/different-supplier condition. Lateness is
    surrogated as shipping >60 days after the order date (the schema
    has no commit/receipt dates)."""
    supp, orders, li = load_tables(spark, sf_dir, "supplier", "orders", "lineitem")
    fli = li.join(
        orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).withColumn(
        # Day-boundary diff (not full 24h periods) so parity with the
        # DuckDB oracle's date_diff('day', ...) holds for non-midnight
        # timestamps too.
        "is_late",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")) > 60,
    )
    late = fli.filter(F.col("is_late")).select("l_orderkey", "l_suppkey")
    others = fli.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    late_others = fli.filter(F.col("is_late")).select(
        F.col("l_orderkey").alias("o3_orderkey"), F.col("l_suppkey").alias("o3_suppkey")
    )
    waiting = (
        late.join(
            others,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


ORACLE_Q21 = """
WITH fli AS (
  SELECT l_orderkey, l_suppkey,
         date_diff('day', o_orderdate, l_shipdate) > 60 AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_name, count(*)::BIGINT AS numwait
FROM fli l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.is_late
  AND EXISTS (SELECT 1 FROM fli l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey != l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM fli l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey != l1.l_suppkey AND l3.is_late)
GROUP BY s_name
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q18_large_volume_customer": q18_large_volume_customer,
    "q4_order_priority": q4_order_priority,
    "q13_customer_distribution": q13_customer_distribution,
    "q14_promo_revenue": q14_promo_revenue,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q7_volume_shipping": q7_volume_shipping,
    "q19_discounted_revenue": q19_discounted_revenue,
    "q10_returned_items": q10_returned_items,
    "q12_ship_delay_priority": q12_ship_delay_priority,
    "q16_supplier_part_counts": q16_supplier_part_counts,
    "q20_promo_part_suppliers": q20_promo_part_suppliers,
    "q22_idle_balances": q22_idle_balances,
    "q2_best_supplier": q2_best_supplier,
    "q21_waiting_suppliers": q21_waiting_suppliers,
    "q15_top_supplier": q15_top_supplier,
    "q11_important_stock": q11_important_stock,
    "q9_product_profit": q9_product_profit,
    "q8_market_share": q8_market_share,
    "window_topk_orders_per_customer": window_topk_orders_per_customer,
    "events_metrics_agg": events_metrics_agg,
    "events_tumbling_window": events_tumbling_window,
    "explode_token_counts": explode_token_counts,
    "reweave_roundtrip": reweave_roundtrip,
    "events_sessionize": events_sessionize,
}

ORACLES = {
    "q1_pricing_summary": ORACLE_Q1,
    "q3_shipping_priority": ORACLE_Q3,
    "q5_local_supplier_volume": ORACLE_Q5,
    "q6_forecast_revenue": ORACLE_Q6,
    "q18_large_volume_customer": ORACLE_Q18,
    "q4_order_priority": ORACLE_Q4,
    "q13_customer_distribution": ORACLE_Q13,
    "q14_promo_revenue": ORACLE_Q14,
    "q17_small_quantity_revenue": ORACLE_Q17,
    "q7_volume_shipping": ORACLE_Q7,
    "q19_discounted_revenue": ORACLE_Q19,
    "q10_returned_items": ORACLE_Q10,
    "q12_ship_delay_priority": ORACLE_Q12,
    "q16_supplier_part_counts": ORACLE_Q16,
    "q20_promo_part_suppliers": ORACLE_Q20,
    "q22_idle_balances": ORACLE_Q22,
    "q2_best_supplier": ORACLE_Q2,
    "q21_waiting_suppliers": ORACLE_Q21,
    "q15_top_supplier": ORACLE_Q15,
    "q11_important_stock": ORACLE_Q11,
    "q9_product_profit": ORACLE_Q9,
    "q8_market_share": ORACLE_Q8,
    "window_topk_orders_per_customer": ORACLE_WINDOW_TOPK,
    "events_metrics_agg": ORACLE_EVENTS_METRICS,
    "events_tumbling_window": ORACLE_TUMBLING,
    "explode_token_counts": ORACLE_EXPLODE_TOKENS,
    "reweave_roundtrip": ORACLE_REWEAVE,
    "events_sessionize": ORACLE_SESSIONIZE,
}
