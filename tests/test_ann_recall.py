"""Approximation quality of the ANN scale paths: recall@5 of sign-LSH
and IVF against the exact brute-force top-5 on the real embeddings
table. Guards against a refactor silently degrading the index
structure (e.g. bucketing on the wrong bits) while still passing the
self-consistent oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    sign_lsh_topk,
)

SF = "/root/testdata/sf0.001"


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def test_ann_recall_floors(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 16)
    exact = _topk_sets(cosine_topk(e, q, k=5))
    lsh = _topk_sets(sign_lsh_topk(e, q, k=5, bits=6))
    ivf = _topk_sets(ivf_topk(e, q, k=5, centroid_stride=128, nprobe=2))

    def recall(approx):
        hits = sum(len(exact[qid] & approx.get(qid, set())) for qid in exact)
        total = sum(len(v) for v in exact.values())
        return hits / total

    r_lsh, r_ivf = recall(lsh), recall(ivf)
    # Floors are theory-grounded for THIS data, not tuning targets: the
    # synthetic embeddings are near-random (true top-5 neighbors sit at
    # cosine 0.27-0.38), so per-bit sign agreement is ~0.6 and 4 tables
    # x 6 bits tops out near 1-(1-0.6^6)^4 ~ 0.2 recall; on real
    # embeddings (neighbor cosine >= 0.8) the same index exceeds 0.9.
    # The bound asserts the index is actually indexing — single-table
    # LSH measured 0.04 before the multi-table fix.
    assert r_lsh >= 0.10, f"sign-LSH recall collapsed: {r_lsh}"
    assert r_ivf >= 0.20, f"IVF recall collapsed: {r_ivf}"
    # and every query must return a full k unless its bucket is tiny
    assert all(len(v) > 0 for v in lsh.values())
    assert all(len(v) > 0 for v in ivf.values())


def test_kmeans_fit_sse_non_increasing(spark, sf_dir):
    from air_quality_etl_pipeline_spark.operators.similarity import kmeans_fit

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents, sse = kmeans_fit(e, centroid_stride=16, iterations=3)
    assert len(sse) == 3
    # Lloyd's algorithm: within-cluster SSE never increases
    assert sse[0] >= sse[1] >= sse[2]
    assert sse[0] > 0
    # centroids remain k-sized with full-dimension means
    rows = cents.collect()
    assert len(rows) >= 2
    assert all(len(r.centv) == 64 for r in rows)


def test_kmeans_parallel_candidates_invariants(spark, sf_dir):
    from air_quality_etl_pipeline_spark.operators.similarity import (
        kmeans_parallel_candidates,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = e.count()
    cand = kmeans_parallel_candidates(e, rounds=2, oversample=8).collect()
    # every point is owned by exactly one candidate
    assert sum(r.weight for r in cand) == n
    assert all(r.weight > 0 for r in cand)
    assert len(cand) >= 1
    # deterministic: a second evaluation yields the identical set
    again = kmeans_parallel_candidates(e, rounds=2, oversample=8).collect()
    assert sorted((r.vec_id, r.weight) for r in cand) == sorted(
        (r.vec_id, r.weight) for r in again
    )


def test_kmeans_parallel_init_and_fit(spark, sf_dir):
    from air_quality_etl_pipeline_spark.operators.similarity import (
        kmeans_fit,
        kmeans_parallel_init,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_parallel_init(e, k=4).collect()
    assert len(cents) <= 4 and len(cents) >= 1
    assert sorted(r.cid for r in cents) == list(range(len(cents)))
    assert all(len(r.centv) == 64 for r in cents)
    # full fit from the parallel init: SSE stays monotone
    _, sse = kmeans_fit(e, centroid_stride=16, iterations=2, init="parallel")
    assert len(sse) == 2 and sse[0] >= sse[1] > 0


def test_balanced_stride_monotone_sqrt_and_sql_agreement():
    """r12 verdict #1: the auto default must keep nlist ≈ √N (so
    assignment is N^1.5, never N²/stride), be monotone in N, and agree
    with the SQL twin's floor(sqrt(n)) for every size an oracle could
    meet — including perfect squares and their neighbors."""
    import math

    import duckdb

    from air_quality_etl_pipeline_spark.operators.similarity import (
        balanced_stride,
    )

    sizes = [0, 1, 2, 3, 10, 99, 100, 101, 640, 6400, 63999, 64000,
             64001, 10**6, 10**6 + 1, 10**9, 10**12]
    prev = 0
    con = duckdb.connect()
    for n in sizes:
        s = balanced_stride(n)
        assert s >= prev, f"stride not monotone at N={n}"
        prev = s
        assert s == max(1, math.isqrt(n))
        # nlist ≈ √N (within the ±1 of integer floor division)
        if n >= 1:
            nlist = n // s
            assert nlist <= math.isqrt(n) + 2
        # SQL twin: the oracle computes the stride inline
        (sql_s,) = con.execute(
            f"SELECT GREATEST(1, CAST(floor(sqrt({n})) AS BIGINT))"
        ).fetchone()
        assert sql_s == s, f"python/SQL stride disagree at N={n}"


def test_ivf_auto_stride_default_resolves_to_sqrt(spark):
    """ivf_topk(..., centroid_stride=None) must pick ⌊√N⌋ centroids'
    stride — pinned by comparing against an explicit isqrt(N) call."""
    import math

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = e.count()
    q = e.filter(F.col("vec_id") < 4)
    auto = sorted(
        tuple(r) for r in ivf_topk(e, q, k=3, nprobe=2).collect()
    )
    explicit = sorted(
        tuple(r)
        for r in ivf_topk(
            e, q, k=3, nprobe=2, centroid_stride=max(1, math.isqrt(n))
        ).collect()
    )
    assert auto == explicit and len(auto) > 0
