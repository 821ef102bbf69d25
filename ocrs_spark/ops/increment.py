"""Incremental near-duplicate detection for a GROWING corpus: a new
crawl batch is checked against the existing corpus's FROZEN MinHash
band index plus itself, without ever re-deduplicating the corpus — the
daily-ingest complement to ``dedup``'s whole-corpus LSH and
``curastream``'s exact-hash incremental dedup. At 10^12 docs you
cannot re-run corpus-wide LSH per batch; you persist the band index
(doc_id, band_index, band_hash — the same banding ``dedup`` computes)
and each batch pays only:

  delta bands ⋈ index  (bucket-keyed hash join — the index side is
                        pre-partitioned by band hash on disk)
  delta bands ⋈ delta bands  (within-batch, batch-sized)
  exact verify over CANDIDATES ONLY (3-shingle Jaccard, the
  ``setjoin`` measure, as a pure-INTEGER predicate: J >= 1/2 iff
  3*ni >= na + nb — no float anywhere, bit-exact in both engines)

Batch split is planted deterministically (doc_id % DELTA_MOD == 0 is
the new batch) so the oracle needs no notion of time. Verdict per new
doc, precedence dup_of_corpus > dup_in_batch > novel; within-batch
duplicates count only SMALLER doc_ids (keep-earliest, the
``curastream`` rule), corpus matches count regardless (the corpus is
canonical). Docs too short to shingle have no signature and verdict
'novel' — both engines agree by construction.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import load_tables
from .dedup import LSH_BANDS, MINHASH_K, _minhash_signature_df, minhash_band_keys

DELTA_MOD = 3  # doc_id % 3 == 0 is the incoming batch


def _bands_from_sig(sig):
    """(doc_id, band_index, band_hash) from a signature frame — the
    persisted fingerprint-index layout."""
    return minhash_band_keys(sig).drop("n_bands")


def incremental_neardup(spark, sf_dir: str):
    """(doc_id, n_corpus_matches, n_batch_matches, verdict) for every
    document of the incoming batch."""
    (docs,) = load_tables(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % DELTA_MOD == 0
    # r6: land the signature table once — it feeds both the index and
    # delta band branches, each of which otherwise re-ran the full
    # shingle + K-min-md5 aggregation.
    sig = _minhash_signature_df(spark, sf_dir).localCheckpoint()
    index_bands = _bands_from_sig(sig.filter(~is_delta))
    delta_bands = _bands_from_sig(sig.filter(is_delta))

    cross = (
        delta_bands.alias("d")
        .join(index_bands.alias("o"), ["band_index", "band_hash"])
        .select(
            F.col("d.doc_id").alias("doc_id"),
            F.col("o.doc_id").alias("other_id"),
            F.lit("corpus").alias("src"),
        )
        .distinct()
    )
    within = (
        delta_bands.alias("a")
        .join(delta_bands.alias("b"), ["band_index", "band_hash"])
        .filter(F.col("b.doc_id") < F.col("a.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("other_id"),
            F.lit("batch").alias("src"),
        )
        .distinct()
    )
    cand = cross.unionAll(within)

    # r6 verify pass: per-doc sorted shingle arrays + JVM
    # array_intersect (the setjoin.py idiom) — each candidate pair
    # joins two bounded array rows and counts the intersection in
    # codegen. The arrays come from the Python-side per-doc dedup
    # (distinct_shingle_arrays), so no corpus-wide DISTINCT exchange
    # and no collect_list aggregation exist in this branch at all.
    from .dedup import distinct_shingle_arrays

    arrs = distinct_shingle_arrays(docs)
    verified = (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("ta_doc"),
                F.col("arr").alias("arr_a"),
                F.col("n").alias("na"),
            ),
            F.col("doc_id") == F.col("ta_doc"),
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("tb_doc"),
                F.col("arr").alias("arr_b"),
                F.col("n").alias("nb"),
            ),
            F.col("other_id") == F.col("tb_doc"),
        )
        .withColumn(
            "ni", F.size(F.array_intersect("arr_a", "arr_b")).cast("long")
        )
        # J >= 1/2  <=>  3*ni >= na + nb  — exact integers only
        .filter(3 * F.col("ni") >= F.col("na") + F.col("nb"))
        .select("doc_id", "src")
    )
    per_doc = verified.groupBy("doc_id").agg(
        F.sum(F.when(F.col("src") == "corpus", 1).otherwise(0))
        .cast("long")
        .alias("n_corpus_matches"),
        F.sum(F.when(F.col("src") == "batch", 1).otherwise(0))
        .cast("long")
        .alias("n_batch_matches"),
    )
    return (
        docs.filter(is_delta)
        .select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_corpus_matches", F.lit(0))
            .cast("long")
            .alias("n_corpus_matches"),
            F.coalesce("n_batch_matches", F.lit(0))
            .cast("long")
            .alias("n_batch_matches"),
            F.when(F.coalesce("n_corpus_matches", F.lit(0)) > 0, "dup_of_corpus")
            .when(F.coalesce("n_batch_matches", F.lit(0)) > 0, "dup_in_batch")
            .otherwise("novel")
            .alias("verdict"),
        )
    )


def _oracle_sql() -> str:
    sig_cols = ", ".join(
        f"min(md5(s || '#{k}')) AS s{k}" for k in range(MINHASH_K)
    )
    rows = MINHASH_K // LSH_BANDS
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_index,"
        f" md5({' || '.join(f's{b * rows + r}' for r in range(rows))})"
        f" AS band_hash FROM sig"
        for b in range(LSH_BANDS)
    )
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest([string_split(text, ' ')[i] || ' ' ||
         string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
         for i in range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)]) AS s
  FROM documents
),
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bands AS ({band_selects}),
del_b AS (SELECT * FROM bands WHERE doc_id % {DELTA_MOD} = 0),
old_b AS (SELECT * FROM bands WHERE doc_id % {DELTA_MOD} != 0),
cand AS (
  SELECT DISTINCT d.doc_id, o.doc_id AS other_id, 'corpus' AS src
  FROM del_b d JOIN old_b o USING (band_index, band_hash)
  UNION ALL
  SELECT DISTINCT a.doc_id, b.doc_id AS other_id, 'batch' AS src
  FROM del_b a JOIN del_b b
    ON a.band_index = b.band_index AND a.band_hash = b.band_hash
   AND b.doc_id < a.doc_id
),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_id, c.other_id, c.src, count(*)::BIGINT AS ni
  FROM cand c
  JOIN sh ta ON ta.doc_id = c.doc_id
  JOIN sh tb ON tb.doc_id = c.other_id AND tb.s = ta.s
  GROUP BY 1, 2, 3
),
ver AS (
  SELECT i.doc_id, i.src
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_id
  JOIN sizes sb ON sb.doc_id = i.other_id
  WHERE 3 * i.ni >= sa.n + sb.n
),
per AS (
  SELECT doc_id,
         sum(CASE WHEN src = 'corpus' THEN 1 ELSE 0 END)::BIGINT AS ncm,
         sum(CASE WHEN src = 'batch' THEN 1 ELSE 0 END)::BIGINT AS nbm
  FROM ver GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(ncm, 0)::BIGINT AS n_corpus_matches,
       COALESCE(nbm, 0)::BIGINT AS n_batch_matches,
       CASE WHEN COALESCE(ncm, 0) > 0 THEN 'dup_of_corpus'
            WHEN COALESCE(nbm, 0) > 0 THEN 'dup_in_batch'
            ELSE 'novel' END AS verdict
FROM (SELECT doc_id FROM documents WHERE doc_id % {DELTA_MOD} = 0) d
LEFT JOIN per USING (doc_id)
"""


QUERIES = {"incremental_neardup": incremental_neardup}
ORACLES = {"incremental_neardup": _oracle_sql()}
