"""Shuffle-skew advisor: quantify key skew for a prospective
groupBy/join key and recommend a salt factor — the diagnostic that
turns "salt the hot keys" from folklore into a number (AQE's skew-join
handles JOIN-side skew at runtime; aggregation/window keys still need
the two-phase salt, and the right salt factor is a property of the key
distribution this op measures).

Per candidate key column: one groupBy(key) for exact counts (the same
pass the real job would pay), then O(distinct) reductions —
- top_share: the hottest key's fraction of all rows (the straggler's
  task share under hash partitioning);
- p99_over_mean: exact continuous-interpolation p99 of the per-key
  counts over their mean (heavy-tail shape; linear interpolation at
  rank (n-1)*p, Spark's ``percentile`` convention, so DuckDB's
  quantile_cont agrees bit-for-bit);
- salt_factor: ceil(top_count * PARTS / total) — the number of salt
  shards that caps the hottest key's per-task share at ~1/PARTS of the
  data, i.e. what skew.salted_agg's constant should be for this key
  (1 = no salting needed).

Output: one row per audited key column. All ratios derive from exact
integer counts (single division / exact percentile), so the row is
hash-exact cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load_tables

PARTS = 32


def key_skew_report(df: DataFrame, key: str, label: str) -> DataFrame:
    counts = df.groupBy(key).agg(F.count("*").cast("long").alias("c"))
    return counts.agg(
        F.lit(label).alias("key_col"),
        F.count("*").cast("long").alias("n_keys"),
        F.sum("c").cast("long").alias("total_rows"),
        F.max("c").cast("long").alias("max_key_rows"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_share"),
        F.round(
            F.expr("percentile(c, 0.99)") / F.avg("c"), 6
        ).alias("p99_over_mean"),
        F.ceil(F.max("c") * PARTS / F.sum("c")).cast("long").alias("salt_factor"),
    )


def shuffle_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    events, docs = load_tables(spark, sf_dir, "events", "documents")
    return (
        key_skew_report(events, "user_id", "events.user_id")
        .unionByName(key_skew_report(events, "event_type", "events.event_type"))
        .unionByName(key_skew_report(docs, "lang", "documents.lang"))
    )


def _one(table: str, key: str, label: str) -> str:
    return f"""
SELECT '{label}' AS key_col,
       count(*)::BIGINT AS n_keys,
       sum(c)::BIGINT AS total_rows,
       max(c)::BIGINT AS max_key_rows,
       round(max(c)::DOUBLE / sum(c), 6) AS top_share,
       round(quantile_cont(c, 0.99) / avg(c), 6) AS p99_over_mean,
       ceil(max(c)::DOUBLE * {PARTS} / sum(c))::BIGINT AS salt_factor
FROM (SELECT {key}, count(*)::BIGINT AS c FROM {table} GROUP BY {key})
"""


ORACLE_SKEW_REPORT = " UNION ALL ".join(
    [
        _one("events", "user_id", "events.user_id"),
        _one("events", "event_type", "events.event_type"),
        _one("documents", "lang", "documents.lang"),
    ]
)

QUERIES = {"shuffle_skew_report": shuffle_skew_report}
ORACLES = {"shuffle_skew_report": ORACLE_SKEW_REPORT}
