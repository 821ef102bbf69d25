"""MinHash-LSH banding calibration: measured precision/recall of every
(bands, rows) split of the K-hash signature against the EXACT
set-similarity join — the tuning table you compute on a sample before
committing a banding config to a 100-TB dedup run. The S-curve theory
gives P(candidate) = 1 - (1 - J^r)^b; this op replaces the theory with
the corpus's own measured numbers, using ``setjoin.exact_jaccard_join``
(prefix-filtered, provably complete) as ground truth over the same
word 3-shingle sets the signatures hash.

One signature pass feeds every config: the (doc, band_hash) explode is
K rows/doc regardless of the split (each config re-slices the same K
columns), candidate pairs per config come from the same bucket
self-join shape production LSH uses, and the truth table is the
bounded near-dup pair set — broadcast for the hit join. Configs with
zero candidates still get a row (left join from the literal config
table) with NULL precision, so a too-strict split is visible rather
than silently absent.

All rates are exact integer milli units; every count is BIGINT.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .dedup import MINHASH_K, _minhash_signature_df, minhash_band_keys
from .setjoin import ORACLE_EXACT_JACCARD, exact_jaccard_join
from .similarity import bucket_pairs

CONFIGS = (1, 2, 4, 8)  # n_bands; rows_per_band = MINHASH_K / n_bands


def _candidates(sig, n_bands: int):
    """Distinct candidate pairs for one banding split of the signature."""
    return _all_candidates(sig, (n_bands,))


def _all_candidates(sig, configs):
    """Distinct (n_bands, doc_a, doc_b) for EVERY banding config in one
    pass (r6): all configs' band hashes come out of a single explode
    projection (1 + 2 + ... bands per doc), pairs form by in-bucket
    explosion keyed on (n_bands, band_index, band_hash), and ONE
    distinct dedups all configs — the former per-config
    build-bands + self-join + distinct ran four aggregation pipelines
    over the same checkpointed signature. Per-config results are
    identical: a bucket key carries its config, so no cross-config
    pairs exist."""
    return bucket_pairs(
        minhash_band_keys(sig, configs),
        ["n_bands", "band_index", "band_hash"],
        "doc_id",
        ("doc_a", "doc_b"),
        keep=["n_bands"],
    )


def lsh_band_calibration(spark, sf_dir: str):
    """(n_bands, rows_per_band, n_candidates, n_hits, n_true,
    precision_milli, recall_milli) — one row per banding config."""
    sig = _minhash_signature_df(spark, sf_dir).localCheckpoint()
    cand = _all_candidates(sig, CONFIGS)

    # The exact-join truth table is setjoin's durable artifact (the
    # verified near-dup pair set a real pipeline lands once and reuses)
    # — materialized per (session, sf_dir) like dedup's verified pairs,
    # so calibration consumes the table instead of re-deriving it.
    from ..matcache import materialize_once

    truth = materialize_once(
        spark,
        sf_dir,
        "exact_jaccard_pairs",
        lambda: exact_jaccard_join(spark, sf_dir).select("doc_a", "doc_b"),
    )
    hit = (
        cand.join(
            F.broadcast(truth.withColumn("is_true", F.lit(1))),
            ["doc_a", "doc_b"],
            "left",
        )
        .groupBy("n_bands")
        .agg(
            F.count("*").cast("long").alias("n_candidates"),
            F.coalesce(F.sum("is_true"), F.lit(0)).cast("long").alias("n_hits"),
        )
    )
    configs = spark.createDataFrame(
        [(int(b),) for b in CONFIGS], "n_bands long"
    )
    n_true = truth.agg(F.count("*").cast("long").alias("n_true"))
    out = (
        configs.join(hit, "n_bands", "left")
        .crossJoin(F.broadcast(n_true))
        .select(
            "n_bands",
            (F.lit(MINHASH_K) / F.col("n_bands"))
            .cast("long")
            .alias("rows_per_band"),
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            "n_true",
        )
    )
    return out.select(
        "n_bands",
        "rows_per_band",
        "n_candidates",
        "n_hits",
        "n_true",
        F.when(
            F.col("n_candidates") > 0,
            F.expr("(1000 * n_hits) div n_candidates"),
        )
        .cast("long")
        .alias("precision_milli"),
        F.when(F.col("n_true") > 0, F.expr("(1000 * n_hits) div n_true"))
        .cast("long")
        .alias("recall_milli"),
    )


def _oracle_sql() -> str:
    band_selects = []
    for n_bands in CONFIGS:
        rows = MINHASH_K // n_bands
        for b in range(n_bands):
            cols = " || ".join(f"s{b * rows + r}" for r in range(rows))
            band_selects.append(
                f"SELECT doc_id, {n_bands} AS n_bands, {b} AS band_index,"
                f" md5({cols}) AS band_hash FROM sig"
            )
    bands_sql = " UNION ALL ".join(band_selects)
    sig_cols = ", ".join(
        f"min(md5(s || '#{k}')) AS s{k}" for k in range(MINHASH_K)
    )
    config_rows = ", ".join(f"({b})" for b in CONFIGS)
    return f"""
WITH sh AS (
  SELECT doc_id, unnest([string_split(text, ' ')[i] || ' ' ||
         string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
         for i in range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)]) AS s
  FROM documents
),
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bands AS ({bands_sql}),
cand AS (
  SELECT DISTINCT a.n_bands, a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.n_bands = b.n_bands AND a.band_index = b.band_index
   AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
truth AS (SELECT doc_a, doc_b FROM ({ORACLE_EXACT_JACCARD})),
ntrue AS (SELECT count(*)::BIGINT AS n_true FROM truth),
stats AS (
  SELECT c.n_bands, count(*)::BIGINT AS n_candidates,
         sum(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits
  FROM cand c LEFT JOIN truth t
    ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
  GROUP BY c.n_bands
),
cfg AS (SELECT * FROM (VALUES {config_rows}) v(n_bands))
SELECT CAST(cfg.n_bands AS BIGINT) AS n_bands,
       CAST({MINHASH_K} // cfg.n_bands AS BIGINT) AS rows_per_band,
       COALESCE(s.n_candidates, 0)::BIGINT AS n_candidates,
       COALESCE(s.n_hits, 0)::BIGINT AS n_hits,
       ntrue.n_true,
       CASE WHEN COALESCE(s.n_candidates, 0) > 0
            THEN CAST((1000 * s.n_hits) // s.n_candidates AS BIGINT)
            ELSE NULL END AS precision_milli,
       CASE WHEN ntrue.n_true > 0
            THEN CAST((1000 * COALESCE(s.n_hits, 0)) // ntrue.n_true AS BIGINT)
            ELSE NULL END AS recall_milli
FROM cfg LEFT JOIN stats s ON s.n_bands = cfg.n_bands CROSS JOIN ntrue
"""


QUERIES = {"lsh_band_calibration": lsh_band_calibration}
ORACLES = {"lsh_band_calibration": _oracle_sql()}
