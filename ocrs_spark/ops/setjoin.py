"""Exact set-similarity self-join via prefix filtering (PPJoin family,
Xiao et al. 2008): find EVERY document pair whose distinct-shingle
Jaccard clears the threshold, with a deterministic completeness
guarantee — the exactness anchor for the probabilistic MinHash-LSH
candidate generator (``dedup.ngram_jaccard_pairs``), the same role
ann_topk_bruteforce plays for the banded-LSH ANN.

The prefix theorem: order every document's shingles by one global
total order (document frequency ascending, shingle ascending — rarest
first, the order that makes prefixes selective) and keep only the
first |d| - ceil(t*|d|) + 1 of each; any pair with J >= t MUST share
at least one shingle inside BOTH prefixes. So the candidate join runs
on the rare prefix shingles only — at threshold 0.5 each bucket holds
the few documents sharing a rare shingle, never the corpus — and the
exact Jaccard verify touches candidates only. Completeness is a
theorem, not a recall curve.

Plan shape: the document-frequency table is a word-count groupBy; the
per-doc rarest-first rank is a window partitioned by doc_id; the
candidate join and the verify joins are all hash joins on shingle/doc
keys. Prefix length arithmetic stays in exact integers
(ceil(n/2) = floor((n+1)/2), halves exact in doubles) so both engines
cut identical prefixes."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import load_tables
from .dedup import _DUCK_SHINGLES

SIM_T = 0.5  # Jaccard threshold (dedup.JACCARD_THRESHOLD's regime)


def exact_jaccard_join(spark, sf_dir):
    """(doc_a, doc_b, jaccard): EVERY pair with distinct-shingle
    Jaccard >= SIM_T."""
    (docs,) = load_tables(spark, sf_dir, "documents")
    # Materialized once: the per-doc DISTINCT shingle ARRAY table feeds
    # every plan branch (frequency table, prefix cut, both verify
    # sides). r6: deduping happens inside the Arrow pass
    # (distinct_shingle_arrays), so the former corpus-wide
    # token-granularity DISTINCT exchange is gone, the doc-size column
    # rides along for free (no sizes groupBy + join), and the
    # checkpoint lands 1 array row per doc instead of ~n token rows.
    # At cluster scale this is the standard land-the-token-table step
    # every set-similarity join paper assumes.
    from .dedup import distinct_shingle_arrays

    docs_arr = distinct_shingle_arrays(docs).localCheckpoint()
    toks = docs_arr.select("doc_id", "n", F.explode("arr").alias("s"))
    dfreq = toks.groupBy("s").agg(F.count("*").cast("long").alias("dfc"))
    w = Window.partitionBy("doc_id").orderBy("dfc", "s")
    # Landed once (r6): the prefix table feeds BOTH sides of the
    # candidate self-join; un-checkpointed, the join + rank-window
    # chain executed twice.
    pref = (
        toks.join(dfreq, "s")
        .withColumn("r", F.row_number().over(w).cast("long"))
        # prefix length for t = 1/2: n - ceil(n/2) + 1 = floor(n/2)+1.
        .filter(
            F.col("r")
            <= F.col("n") - F.floor((F.col("n") + 1) / 2).cast("long") + 1
        )
        .select("doc_id", "s", "r", "n", "dfc")
        .localCheckpoint()
    )
    # Candidate generation with PPJoin's two EXACT pruning filters —
    # both are theorems at t=1/2 (J >= 1/2 forces ni >= ceil((na+nb)/3)
    # =: alpha), so the final pair set is provably unchanged and the
    # oracle stays the bare-prefix formulation:
    #  * length filter: ni <= min(na,nb) and ni >= alpha together force
    #    2*min(na,nb) >= max(na,nb) — join-level, kills cross-size pairs
    #    before the group step;
    #  * positional filter: shingles are ranked by ONE global order, so
    #    the pair's first shared prefix shingle (lexicographic min of
    #    (dfc, s)) has no shared shingle before it in EITHER doc, hence
    #    ni <= 1 + min(na - ra, nb - rb) at that shingle; pairs whose
    #    bound misses alpha can never verify. Together the two filters
    #    cut the verify join 3.3x (409k -> 125k pairs at sf0.1,
    #    measured) — the bare prefix theorem at t=1/2 keeps half of
    #    every document and floods the verify join.
    matched = (
        pref.alias("a")
        .join(pref.alias("b"), "s")
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                2 * F.least(F.col("a.n"), F.col("b.n"))
                >= F.greatest(F.col("a.n"), F.col("b.n"))
            )
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
            F.struct(
                F.col("a.dfc"), F.col("s"), F.col("a.r").alias("ra"),
                F.col("b.r").alias("rb"),
            ).alias("pos"),
        )
    )
    cand = (
        matched.groupBy("doc_a", "doc_b")
        .agg(
            F.min("pos").alias("first"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
        .filter(
            1
            + F.least(
                F.col("na") - F.col("first.ra"), F.col("nb") - F.col("first.rb")
            )
            >= F.expr("(na + nb + 2) div 3")
        )
        .select("doc_a", "doc_b")
    )
    # Verify pass (r6): per-doc sorted shingle ARRAYS + JVM
    # array_intersect instead of the cand x toks x toks token-level
    # join. The former shape shuffled candidate-pair token rows twice
    # and re-aggregated them; now each candidate pair joins two bounded
    # array rows straight off the checkpointed table and the
    # intersection count is one codegen'd array op — guide §2.3
    # (shuffle keys/arrays, not exploded rows). Distinct shingles make
    # |array_intersect| the exact ni.
    arrs = docs_arr
    return (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("arr").alias("arr_a"),
                F.col("n").alias("na2"),
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("arr").alias("arr_b"),
                F.col("n").alias("nb2"),
            ),
            "doc_b",
        )
        .withColumn(
            "ni", F.size(F.array_intersect("arr_a", "arr_b")).cast("long")
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("ni") / (F.col("na2") + F.col("nb2") - F.col("ni")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= SIM_T)
        .orderBy("doc_a", "doc_b")
    )


ORACLE_EXACT_JACCARD = f"""
WITH raw AS (
  SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s FROM documents
),
toks AS (SELECT DISTINCT doc_id, s FROM raw),
dfreq AS (SELECT s, count(*)::BIGINT AS dfc FROM toks GROUP BY s),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM toks GROUP BY doc_id),
pref AS (
  SELECT doc_id, s FROM (
    SELECT t.doc_id, t.s, z.n,
           row_number() OVER (PARTITION BY t.doc_id ORDER BY d.dfc, t.s)
             AS r
    FROM toks t JOIN dfreq d USING (s) JOIN sizes z USING (doc_id)
  ) WHERE r <= n - floor((n + 1) / 2.0)::BIGINT + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
),
inter AS (
  SELECT doc_a, doc_b, count(*)::BIGINT AS ni
  FROM cand
  JOIN toks ta ON ta.doc_id = doc_a
  JOIN toks tb ON tb.doc_id = doc_b AND ta.s = tb.s
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b,
       round(ni::DOUBLE / (sa.n + sb.n - ni), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(ni::DOUBLE / (sa.n + sb.n - ni), 4) >= {SIM_T}
ORDER BY doc_a, doc_b
"""

QUERIES = {"exact_jaccard_join": exact_jaccard_join}
ORACLES = {"exact_jaccard_join": ORACLE_EXACT_JACCARD}
