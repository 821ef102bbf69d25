"""Product quantization (PQ) for ANN — the memory-bounded leg that
completes the similarity ladder (brute force = exactness baseline,
banded LSH = bucketed candidates, IVF = partition pruning, PQ =
compressed residency): a 64-dim float32 vector becomes M=8 one-byte
codes, a 32x compression, and queries scan codes with asymmetric
distance computation (ADC) — Jegou et al., "Product Quantization for
Nearest Neighbor Search" (TPAMI 2011), the FAISS default.

Codebooks here are DETERMINISTIC (subspace slices of the first K
vectors — the same first-K "training" trick as the IVF contract row,
whose k-means sibling stays pytest-held): k-means-trained codebooks
are fold-order-unstable across engines, first-K literals are not, so
encoding and ADC are hash-exact against DuckDB. The codebook is a
bounded model (M x K x 8 doubles) inlined as literals — encoding is
ONE narrow projection per vector (argmin of K squared-L2 terms per
subspace, no join, no explode), exactly how the IVF assignment stays
scale-clean.

ADC: each query precomputes its M x K distance table against the same
literals; a candidate's approximate distance is the sum of M
element_at lookups by code — codes-table scan + broadcast query side,
never touching full vectors. Squared L2 throughout (monotone, no
sqrt). Top-k per query orders by (rounded dist, vec_id) so the cut is
deterministic; pytest holds the recall floor against brute force.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load_tables

EMB_DIM = 64
M_SUB = 8          # subspaces
SUB_DIM = EMB_DIM // M_SUB
K_CODES = 8        # codewords per subspace (first-K deterministic)
N_QUERIES = 3
TOP_K = 5


def _codebook(spark, sf_dir):
    """[(m, [(c, subvector), ...]), ...] from the first K vectors."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") < K_CODES)
        .select("vec_id", "embedding")
        .collect()
    )
    by_id = {r["vec_id"]: list(r["embedding"]) for r in rows}
    book = []
    for m in range(M_SUB):
        lo = m * SUB_DIM
        book.append(
            (m, [(c, by_id[c][lo : lo + SUB_DIM]) for c in sorted(by_id)])
        )
    return book


def _lit_vec(vals) -> str:
    return "array(" + ", ".join(f"cast({float(v)!r} as double)" for v in vals) + ")"


def _l2_spark(sub_expr: str, lit: str) -> str:
    return (
        f"aggregate(zip_with({sub_expr}, {lit}, (x, y) -> (cast(x AS double) - y)"
        f" * (cast(x AS double) - y)), cast(0 AS double), (acc, v) -> acc + v)"
    )


def _sub(m: int, col: str = "embedding") -> str:
    return f"slice({col}, {m * SUB_DIM + 1}, {SUB_DIM})"


def pq_encode(emb: DataFrame, book) -> DataFrame:
    """(vec_id, code_str, m0..m{M-1}): argmin codeword per subspace,
    ties to the smallest code id."""
    cols = [F.col("vec_id")]
    code_cols = []
    for m, words in book:
        terms = ", ".join(
            f"named_struct('d', {_l2_spark(_sub(m), _lit_vec(v))}, 'c', {c})"
            for c, v in words
        )
        # array_min on struct orders by (d, c): smallest distance,
        # ties to the smallest code id — matching the oracle's
        # list_position-of-first-minimum
        code = F.expr(f"array_min(array({terms})).c").cast("int")
        code_cols.append(code.alias(f"m{m}"))
    out = emb.select(*cols, *code_cols)
    return out.select(
        "vec_id",
        F.concat_ws("-", *[F.col(f"m{m}").cast("string") for m in range(M_SUB)]).alias(
            "code_str"
        ),
        *[f"m{m}" for m in range(M_SUB)],
    )


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, vec_id, adc_rank, adc_dist): ADC top-k per query over
    the PQ codes, queries = first N_QUERIES vectors."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    book = _codebook(spark, sf_dir)
    codes = pq_encode(emb, book)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    # per-query distance tables: dt_m = [d(q_m, c0), ..., d(q_m, cK-1)]
    dt_cols = []
    for m, words in book:
        arr = ", ".join(_l2_spark(_sub(m, "q"), _lit_vec(v)) for _, v in words)
        dt_cols.append(F.expr(f"array({arr})").alias(f"dt{m}"))
    qt = queries.select("query_id", *dt_cols)
    adc = " + ".join(f"element_at(dt{m}, m{m} + 1)" for m in range(M_SUB))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    return (
        codes.crossJoin(F.broadcast(qt))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("adc_dist", F.round(F.expr(adc), 6))
        .withColumn("adc_rank", F.row_number().over(w))
        .filter(F.col("adc_rank") <= TOP_K)
        .select("query_id", "vec_id", "adc_rank", "adc_dist")
    )


def _l2_duck(sub: str, lit: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({sub}, {lit}),"
        f" z -> (z[1]::DOUBLE - z[2]) * (z[1]::DOUBLE - z[2])))"
    )


def _duck_sub(m: int, col: str = "embedding") -> str:
    return f"{col}[{m * SUB_DIM + 1}:{m * SUB_DIM + SUB_DIM}]"


# The oracle is STATIC SQL: instead of inlining the collected codebook
# (whose literals depend on sf_dir), it derives the codebook from the
# same first-K embedding rows inside the query — per-row distance to
# every codeword row, then list(d ORDER BY c) + list_position(list_min)
# for a ties-to-smallest-code argmin. Spark's literal doubles equal
# cast(float32 -> double) of those rows exactly, so both paths are
# bit-identical even though one uses literals and the other a join.


def _duck_dist_cols(col: str) -> str:
    return ", ".join(
        f"{_l2_duck(_duck_sub(m, col), _duck_sub(m, 'cw.w'))} AS d{m}"
        for m in range(M_SUB)
    )


_CODES_CTE = f"""
cw AS (SELECT vec_id AS c, embedding AS w FROM embeddings WHERE vec_id < {K_CODES}),
dists AS (
  SELECT e.vec_id, cw.c, {_duck_dist_cols('e.embedding')}
  FROM embeddings e CROSS JOIN cw
),
lists AS (
  SELECT vec_id, {", ".join(f"list(d{m} ORDER BY c) AS l{m}" for m in range(M_SUB))}
  FROM dists GROUP BY vec_id
),
coded AS (
  SELECT vec_id,
         {", ".join(f"(list_position(l{m}, list_min(l{m})) - 1) AS m{m}" for m in range(M_SUB))}
  FROM lists
)"""

ORACLE_PQ_TOPK = f"""
WITH {_CODES_CTE},
qdists AS (
  SELECT q.vec_id AS query_id, cw.c, {_duck_dist_cols('q.embedding')}
  FROM embeddings q CROSS JOIN cw WHERE q.vec_id < {N_QUERIES}
),
qt AS (
  SELECT query_id, {", ".join(f"list(d{m} ORDER BY c) AS dt{m}" for m in range(M_SUB))}
  FROM qdists GROUP BY query_id
),
scored AS (
  SELECT query_id, vec_id,
         round({" + ".join(f"dt{m}[m{m} + 1]" for m in range(M_SUB))}, 6) AS adc_dist
  FROM coded CROSS JOIN qt
  WHERE vec_id <> query_id
)
SELECT query_id, vec_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY adc_dist ASC, vec_id ASC)::BIGINT AS adc_rank,
       adc_dist
FROM scored
QUALIFY adc_rank <= {TOP_K}
"""


QUERIES = {"ann_pq_topk": ann_pq_topk}

ORACLES = {"ann_pq_topk": ORACLE_PQ_TOPK}
