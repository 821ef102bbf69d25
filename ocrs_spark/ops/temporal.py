"""Temporal join operators Spark lacks natively: as-of join and
interval (range) join, each built the way it has to run at 100 TB.

- ``asof_join`` — generic backward as-of join (kdb ``aj`` / pandas
  ``merge_asof`` / DuckDB ``ASOF JOIN`` semantics: for every left row,
  the single right row with the greatest time <= the left row's time,
  per key). Implemented as the union+running-window merge: tag the two
  sides, union them by name, shuffle ONCE on the key, sort each key
  group by (time, side, tiebreak), and carry the latest right-side row
  forward with ``last(ignorenulls=True)`` over an unbounded-preceding
  running frame — Spark evaluates that frame incrementally, so each
  key group costs one sort, exactly what a cluster merge-asof pays.
  There is NO pairwise inequality join and NO per-key cross product,
  which is what makes this shape survive a 10^12-row event table where
  the naive ``t2.ts <= t1.ts`` join degenerates into a
  per-key quadratic explosion. Skewed keys are bounded by the sort,
  not by a join fan-out.

- ``range_join_campaign_windows`` — interval join with NO equi-key
  (events against overlapping [start, end) campaign windows),
  implemented the scale way: every window explodes to the fixed-width
  day buckets it covers, every event maps to exactly ONE bucket
  (``date_trunc('DAY', ts)``), then an ordinary equi-join on the
  bucket carries the residual range predicate. Because a matching
  pair shares exactly the event's single bucket, every match is
  produced exactly once — no post-join dedup. A bare range predicate
  would force BroadcastNestedLoopJoin (per-partition scans of the
  whole window table); the bucketed plan is a hash join that Catalyst
  may broadcast when the window side is tiny and shuffle-partition on
  the bucket when it is not (IP-range tables, per-host politeness
  windows) — the plan test pins the BNLJ out.

The campaign windows are synthesized deterministically from literal
arithmetic (24 windows, 30 h apart, 6-42 h long, overlapping) so the
DuckDB oracle can rebuild the identical table with ``range()`` +
interval math and the driver's hash compare stays exact. Null as-of
misses (a purchase with no prior view) are folded to typed sentinels
(-1 / 1900-01-01) on BOTH engines: a nullable bigint degrades to
float64 through pandas on one engine but not the other, which would
break the dtype-sensitive value hash even though the rows agree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import load_tables

_NO_PRIOR_ID = -1
_NO_PRIOR_TS = "1900-01-01 00:00:00"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_time: str,
    right_time: str,
    value_cols: list[str],
    prefix: str = "asof_",
    tiebreak: str | None = None,
) -> DataFrame:
    """Backward as-of join: for each left row, attach the right row with
    the greatest ``right_time`` <= ``left_time`` within the same ``on``
    key (ties on time broken by the greatest ``tiebreak``). Right rows
    with no match yield nulls in the ``prefix``-ed columns.

    One shuffle (hash on ``on``), one sort per key group, no join node.
    """
    payload = F.struct(*[F.col(c) for c in value_cols]).alias("__asof")
    r = right.select(
        *on,
        F.col(right_time).alias("__t"),
        (F.col(tiebreak) if tiebreak else F.lit(0)).alias("__tb"),
        F.lit(0).alias("__side"),
        payload,
    )
    l = left.select(
        *left.columns,
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),
    )
    u = l.unionByName(r, allowMissingColumns=True)
    # Right rows (side 0) sort BEFORE left rows at an equal timestamp, so
    # an exactly-simultaneous right row is matchable (<= semantics); among
    # equal-time right rows the greatest tiebreak sorts last and wins.
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__t").asc(), F.col("__side").asc(), F.col("__tb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("__m", F.last("__asof", ignorenulls=True).over(w))
    out_cols: list[Column] = [F.col(c) for c in left.columns]
    out_cols += [F.col(f"__m.{c}").alias(f"{prefix}{c}") for c in value_cols]
    return carried.filter(F.col("__side") == 1).select(*out_cols)


def asof_latest_view_per_purchase(spark, sf_dir: str) -> DataFrame:
    """(purchase_id, user_id, purchase_ts, prior_view_id, prior_view_ts):
    for every purchase event, the same user's most recent 'view' at or
    before the purchase — the classic attribution as-of. Purchases with
    no prior view carry the typed sentinels (-1, 1900-01-01)."""
    (events,) = load_tables(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    joined = asof_join(
        purchases,
        views,
        on=["user_id"],
        left_time="purchase_ts",
        right_time="view_ts",
        value_cols=["view_id", "view_ts"],
        prefix="prior_",
        tiebreak="view_id",
    )
    return joined.select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        F.coalesce("prior_view_id", F.lit(_NO_PRIOR_ID)).alias("prior_view_id"),
        F.coalesce(
            "prior_view_ts", F.expr(f"timestamp_ntz'{_NO_PRIOR_TS}'")
        ).alias("prior_view_ts"),
    )


def _campaign_windows(spark) -> DataFrame:
    """24 deterministic, mutually overlapping [start, end) windows: 30 h
    apart, 6/18/30/42 h long, spanning the whole January 2024 event
    range. Literal arithmetic only, so the oracle rebuilds it exactly."""
    return spark.range(24).select(
        F.col("id").alias("campaign_id"),
        F.expr(
            "timestamp_ntz'2024-01-01 00:00:00'"
            " + make_interval(0,0,0,0, cast(id*30 as int),0,0)"
        ).alias("start_ts"),
        F.expr(
            "timestamp_ntz'2024-01-01 00:00:00'"
            " + make_interval(0,0,0,0, cast(id*30 + 6 + (id%4)*12 as int),0,0)"
        ).alias("end_ts"),
    )


def range_join_buckets(
    facts: DataFrame,
    windows: DataFrame,
    time_col: str,
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """Join fact rows to every [start, end) window containing their
    timestamp via day-bucket expansion + equi-join + residual predicate.
    Returns the inner-join of facts x matching windows (each match
    exactly once — a fact has exactly one bucket)."""
    day = "interval 1 day"
    exploded = windows.withColumn(
        "__bucket",
        F.explode(
            F.expr(
                f"sequence(date_trunc('DAY', {start_col}),"
                f" date_trunc('DAY', {end_col} - interval 1 microsecond), {day})"
            )
        ),
    )
    bucketed = facts.withColumn("__bucket", F.date_trunc("DAY", F.col(time_col)))
    cond = (
        (bucketed["__bucket"] == exploded["__bucket"])
        & (bucketed[time_col] >= exploded[start_col])
        & (bucketed[time_col] < exploded[end_col])
    )
    return bucketed.join(exploded, cond, "inner").drop("__bucket")


def range_join_campaign_attribution(spark, sf_dir: str) -> DataFrame:
    """(campaign_id, n_events, n_users, sum_value): per campaign window,
    the events whose ts falls in [start, end) — an interval join with no
    equi-key, executed as a bucketed hash join (never a nested-loop
    scan). Campaigns with no events keep a zero row (left semantics)."""
    (events,) = load_tables(spark, sf_dir, "events")
    windows = _campaign_windows(spark)
    matched = range_join_buckets(
        events.select("event_id", "user_id", "value", "ts"), windows, "ts"
    )
    agg = matched.groupBy("campaign_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return (
        windows.select("campaign_id")
        .join(agg, "campaign_id", "left")
        .select(
            "campaign_id",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("n_users", F.lit(0)).alias("n_users"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


ORACLE_ASOF_PRIOR_VIEW = f"""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT event_id AS view_id, user_id, ts AS view_ts
  FROM events WHERE event_type = 'view'
),
m AS (
  SELECT p.purchase_id, v.view_id, v.view_ts,
         ROW_NUMBER() OVER (
           PARTITION BY p.purchase_id
           ORDER BY v.view_ts DESC, v.view_id DESC
         ) AS rn
  FROM p JOIN v ON v.user_id = p.user_id AND v.view_ts <= p.purchase_ts
)
SELECT p.purchase_id, p.user_id, p.purchase_ts,
       COALESCE(m.view_id, {_NO_PRIOR_ID}) AS prior_view_id,
       COALESCE(m.view_ts, TIMESTAMP '{_NO_PRIOR_TS}') AS prior_view_ts
FROM p LEFT JOIN m ON m.purchase_id = p.purchase_id AND m.rn = 1
"""

ORACLE_RANGE_CAMPAIGNS = """
WITH c AS (
  SELECT i AS campaign_id,
         TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 30 HOUR AS start_ts,
         TIMESTAMP '2024-01-01 00:00:00'
           + (i*30 + 6 + (i%4)*12) * INTERVAL 1 HOUR AS end_ts
  FROM range(24) t(i)
)
SELECT c.campaign_id,
       COUNT(e.event_id) AS n_events,
       COUNT(DISTINCT e.user_id) AS n_users,
       COALESCE(ROUND(SUM(e.value), 2), 0.0) AS sum_value
FROM c LEFT JOIN events e ON e.ts >= c.start_ts AND e.ts < c.end_ts
GROUP BY 1
"""

QUERIES = {
    "asof_prior_view": asof_latest_view_per_purchase,
    "range_join_campaigns": range_join_campaign_attribution,
}

ORACLES = {
    "asof_prior_view": ORACLE_ASOF_PRIOR_VIEW,
    "range_join_campaigns": ORACLE_RANGE_CAMPAIGNS,
}
