"""Contracts for product quantization (ops/pq.py): code-range and
determinism invariants, ADC self-consistency, and the recall floor
against exact brute force — the same evidence pattern as the LSH/IVF
rows (recall is pytest-held because it's a property of the method, not
an equality).
"""

from pyspark.sql import functions as F

from ocrs_spark.ops.pq import (
    K_CODES,
    M_SUB,
    N_QUERIES,
    TOP_K,
    _codebook,
    ann_pq_topk,
    pq_encode,
)

SF = "/root/testdata/sf0.001"


def test_codes_are_in_range_and_total(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    codes = pq_encode(emb, _codebook(spark, SF))
    n = emb.count()
    assert codes.count() == n
    for m in range(M_SUB):
        mn, mx = codes.agg(F.min(f"m{m}"), F.max(f"m{m}")).collect()[0]
        assert 0 <= mn and mx <= K_CODES - 1
    # codewords encode to themselves: vector c's subspace distance to
    # codeword c is 0, so code m of vec_id c is c
    for r in codes.filter(F.col("vec_id") < K_CODES).collect():
        assert all(r[f"m{m}"] == r["vec_id"] for m in range(M_SUB))


def test_topk_shape_and_determinism(spark):
    a = sorted(map(tuple, ann_pq_topk(spark, SF).collect()))
    b = sorted(map(tuple, ann_pq_topk(spark, SF).collect()))
    assert a == b
    per_q = {}
    for q, v, r, d in a:
        per_q.setdefault(q, []).append((r, v, d))
    assert set(per_q) == set(range(N_QUERIES))
    for q, rows in per_q.items():
        rows.sort()
        assert [r for r, _, _ in rows] == list(range(1, TOP_K + 1))
        dists = [d for _, _, d in rows]
        assert dists == sorted(dists)


def test_recall_floor_vs_bruteforce(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = ann_pq_topk(spark, SF)
    # exact L2 brute force for the same queries
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    l2 = (
        "aggregate(zip_with(embedding, qe, (x, y) -> (cast(x AS double) - cast(y AS double))"
        " * (cast(x AS double) - cast(y AS double))), cast(0 AS double), (acc, v) -> acc + v)"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("d").asc(), F.col("vec_id").asc())
    exact = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("d", F.expr(l2))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= TOP_K)
        .select("query_id", "vec_id")
    )
    hits = got.join(exact, ["query_id", "vec_id"], "left_semi").count()
    # 8 codewords x 8 subspaces over near-ISOTROPIC synthetic noise is
    # information-theoretically coarse; hold a floor well above random
    # (random top-5 of 500 would hit ~0.01) rather than pretending the
    # data has structure it lacks
    assert hits >= N_QUERIES * TOP_K * 0.2


def test_planted_near_duplicate_is_retrieved(spark):
    # the property PQ is actually used for: a near-identical neighbor's
    # codes collapse to the query's, so ADC ranks it at/near the top
    from pyspark.sql import Row, Window

    from ocrs_spark.ops.pq import _codebook, _lit_vec, _sub, _l2_spark, pq_encode

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    planted = emb.filter(F.col("vec_id") < N_QUERIES).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.expr(
            "concat(array(cast(element_at(embedding, 1) + cast(0.05 as float) as float)),"
            " slice(embedding, 2, size(embedding) - 1))"
        ).alias("embedding"),
    )
    aug = emb.select("vec_id", "embedding").unionByName(planted)
    book = _codebook(spark, SF)
    codes = pq_encode(aug, book)
    mine = codes.filter(F.col("vec_id") < N_QUERIES).collect()
    theirs = {
        r["vec_id"] - 1_000_000: r["code_str"]
        for r in codes.filter(F.col("vec_id") >= 1_000_000).collect()
    }
    # a 0.05 perturbation on one coordinate leaves every code unchanged
    for r in mine:
        assert theirs[r["vec_id"]] == r["code_str"]
