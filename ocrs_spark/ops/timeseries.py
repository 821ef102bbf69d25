"""Time-series window shapes nothing else in the contract exercises:

- ``rolling_event_volume``: 7-day rolling sum/avg of daily event
  volume — a RANGE window frame (``rangeBetween(-6, 0)`` over the
  epoch-day key), which is a different WindowExec mode from every ROWS
  frame in the repo: the frame bounds follow the ORDER-BY VALUE, so
  missing days shorten the window instead of silently widening it the
  way ``rowsBetween(-6, 0)`` would. The corpus-scale work is the daily
  pre-aggregation (one partial-agg shuffle); the window then runs over
  |event_types| x |days| rows — thousands, not billions — so the sort
  inside each tiny partition is free. Epoch-anchored integer days keep
  the frame arithmetic exact in both engines.
- ``value_deciles``: NTILE(10) decile summary of event values per
  type. NTILE is ORDER-BY-ROW assignment, so ties at a bucket boundary
  are engine-dependent unless the sort is total — (value, event_id)
  pins it. This is the EXACT-decile operator (one global sort per
  type, the true NTILE cost); corpus-scale percentiles would use
  ``approx_percentile``'s mergeable sketch instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import load_tables
from .relational import ntz_epoch_seconds

DAY_S = 24 * 3600
ROLL_DAYS = 7


def rolling_over(events: DataFrame) -> DataFrame:
    daily = (
        events.select(
            "event_type",
            (ntz_epoch_seconds("ts").cast("long") / DAY_S)
            .cast("long")
            .alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("n"))
    )
    frame = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-(ROLL_DAYS - 1), 0)
    )
    return daily.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(frame).cast("long").alias("n_7d"),
        F.round(F.avg("n").over(frame), 4).alias("avg_7d"),
    )


def rolling_event_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    return rolling_over(events)


ORACLE_ROLLING_VOLUME = f"""
WITH daily AS (
  SELECT event_type, (floor(epoch(ts))::BIGINT // {DAY_S}) AS day,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, n,
       sum(n) OVER w::BIGINT AS n_7d,
       round(avg(n) OVER w, 4) AS avg_7d
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day
             RANGE BETWEEN {ROLL_DAYS - 1} PRECEDING AND CURRENT ROW)
"""


def deciles_over(events: DataFrame) -> DataFrame:
    ranked = events.select(
        "event_type",
        "event_id",
        "value",
        F.ntile(10)
        .over(Window.partitionBy("event_type").orderBy("value", "event_id"))
        .alias("decile"),
    )
    return ranked.groupBy("event_type", "decile").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.min("value"), 4).alias("lo"),
        F.round(F.max("value"), 4).alias("hi"),
    )


def value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    return deciles_over(events)


ORACLE_VALUE_DECILES = """
WITH ranked AS (
  SELECT event_type, value,
         ntile(10) OVER (PARTITION BY event_type
                         ORDER BY value, event_id) AS decile
  FROM events
)
SELECT event_type, decile, count(*)::BIGINT AS n,
       round(min(value), 4) AS lo, round(max(value), 4) AS hi
FROM ranked GROUP BY 1, 2
"""


QUERIES = {
    "rolling_event_volume": rolling_event_volume,
    "value_deciles": value_deciles,
}

ORACLES = {
    "rolling_event_volume": ORACLE_ROLLING_VOLUME,
    "value_deciles": ORACLE_VALUE_DECILES,
}
