"""Bootstrap-style confidence intervals for corpus metrics: every
corpus dashboard reports mean document length / quality / token count,
and at 10^12 documents the question is never the point estimate — it's
whether yesterday's 412.3 and today's 413.1 differ by more than the
metric's own noise. This op measures that noise distributed.

Replicas are HASH-DETERMINISTIC half-subsamples (doc included in
replica b iff md5(doc_id || salt_b) is even — the mixture.py parity
hash, so resamples are identical under retries, partitioning, and
engines; rand() resamples are none of those). B replica means compute
in ONE corpus scan as 2B conditional aggregate pairs — the same
sweep-on-the-aggregate trick as classeval's PR curve, so adding
replicas never rescans the data — then the replica means (a B-row
frame) unpivot and the 2.5%/97.5% exact percentiles become the
interval, by linear interpolation at rank (n-1)*p (Spark's
``percentile`` convention), so DuckDB's quantile_cont agrees
bit-for-bit.

Half-subsampling (m-out-of-n bootstrap, m = n/2) is used instead of
Poisson/multinomial resampling because inclusion is a pure integer
predicate both engines evaluate identically — no cross-engine Poisson
inverse-CDF to reconcile — and subsample CIs are conservative-valid
for smooth statistics like means.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load_tables
from .mixture import salted_hash_sql

B_REPLICAS = 40
_LO, _HI = 0.025, 0.975


def _incl(b: int, key: str = "doc_id") -> str:
    return f"({salted_hash_sql(key, f'|bs{b}')} % 2) = 0"


def _incl_duck(b: int, key: str = "doc_id") -> str:
    return f"(('0x' || substr(md5({key}::VARCHAR || '|bs{b}'), 1, 8))::BIGINT % 2) = 0"


def mean_ci(docs: DataFrame, value_col: str = "n_chars") -> DataFrame:
    """One row: (point_mean, ci_lo, ci_hi, n_replicas) for the mean of
    ``value_col`` over the documents table."""
    aggs = [
        F.avg(value_col).alias("point"),
    ]
    for b in range(B_REPLICAS):
        cond = F.expr(_incl(b))
        aggs.append(
            (
                F.sum(F.when(cond, F.col(value_col)).otherwise(0))
                / F.sum(F.when(cond, 1).otherwise(0))
            ).alias(f"m{b}")
        )
    wide = docs.agg(*aggs)
    means = F.array(*[F.col(f"m{b}") for b in range(B_REPLICAS)])
    return (
        wide.select(F.col("point"), F.explode(means).alias("m"))
        .groupBy("point")
        .agg(
            F.round(F.expr(f"percentile(m, {_LO})"), 6).alias("ci_lo"),
            F.round(F.expr(f"percentile(m, {_HI})"), 6).alias("ci_hi"),
        )
        .select(
            F.round(F.col("point"), 6).alias("point_mean"),
            "ci_lo",
            "ci_hi",
            F.lit(B_REPLICAS).cast("long").alias("n_replicas"),
        )
    )


def mean_chars_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    return mean_ci(docs)


def _oracle() -> str:
    cols = ", ".join(
        f"sum(CASE WHEN {_incl_duck(b)} THEN n_chars ELSE 0 END)::DOUBLE"
        f" / sum(CASE WHEN {_incl_duck(b)} THEN 1 ELSE 0 END) AS m{b}"
        for b in range(B_REPLICAS)
    )
    arr = "[" + ", ".join(f"m{b}" for b in range(B_REPLICAS)) + "]"
    return f"""
WITH wide AS (
  SELECT avg(n_chars) AS point, {cols} FROM documents
),
reps AS (SELECT point, unnest({arr}) AS m FROM wide)
SELECT round(point, 6) AS point_mean,
       round(quantile_cont(m, {_LO}), 6) AS ci_lo,
       round(quantile_cont(m, {_HI}), 6) AS ci_hi,
       {B_REPLICAS}::BIGINT AS n_replicas
FROM reps GROUP BY point
"""


ORACLE_MEAN_CI = _oracle()

QUERIES = {"mean_chars_ci": mean_chars_ci}
ORACLES = {"mean_chars_ci": ORACLE_MEAN_CI}
