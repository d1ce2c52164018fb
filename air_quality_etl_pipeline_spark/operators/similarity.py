"""Similarity search over embedding columns (``array<float>``).

Training-data-pipeline extension (north star in BASELINE.json):
approximate-nearest-neighbor retrieval over an embeddings table. The
approximate strategies follow the published designs: sign-pattern
bucketing is the random-hyperplane LSH of Charikar (STOC 2002); the
inverted-file index (coarse quantizer → probe lists) follows
Jégou/Douze/Schmid, "Product quantization for nearest neighbor
search" (TPAMI 2011) — minus the PQ compression, which is an encoding
concern orthogonal to the relational plan.

Strategies:

* :func:`cosine_topk` — exact brute force: query-set ⨯ corpus with a
  JVM-side cosine (``zip_with`` + ``aggregate``), ranked per query.
  The query set is broadcast, so the corpus is scanned exactly once and
  never shuffled — the right baseline when |queries| ≪ |corpus|.
* :func:`sign_lsh_topk` — random-hyperplane-style LSH on the sign
  pattern of leading dimensions: corpus and queries bucket by the sign
  bit-string, candidates come from an equi-join on the bucket, then
  exact cosine ranks within the bucket. At 100 TB the bucket join is a
  standard hash shuffle and the quadratic term shrinks by ~2^bits.

Embedding near-dup detection reuses :func:`cosine_pairs` with a
threshold instead of top-k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.functions.core import (
    dot_product,
    l2_norm,
    md5_long,
    round_portable,
    safe_div,
)


def balanced_stride(n: int) -> int:
    """√N-balanced coarse-quantizer stride (SCALE.md r12): with a
    FIXED stride, nlist = N/stride grows ∝ N and rank-1 assignment
    (corpus × centroids) costs N²/stride — the measured 8.57× cold
    blow-up for ×10 data. stride = ⌊√N⌋ keeps nlist ≈ √N so
    assignment is N^1.5 — the classic IVF sizing rule (Jégou et al.,
    TPAMI'11 pick nlist ∝ √N). ``math.isqrt`` is exact-integer floor,
    matching SQL ``floor(sqrt(n))`` for every realistic corpus count
    (agreement pinned in tests against DuckDB)."""
    import math

    return max(1, math.isqrt(max(0, n)))


def _resolve_stride(stride: int | None, corpus: DataFrame) -> int:
    """``centroid_stride=None`` → deterministic √N auto-sizing from a
    corpus ``count()`` (one cheap metadata-driven job, amortized over
    the whole index build). Explicit strides pass through untouched —
    oracle-twinned registry queries pin theirs so the SQL twin can
    embed the same literal."""
    return balanced_stride(corpus.count()) if stride is None else stride


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def _norm_expr(v: str) -> Column:
    """L2 norm as ONE ``F.expr`` SQL string — constructing the fold
    through the Python Column API costs dozens of py4j round trips per
    call site; a string parses JVM-side in a single call. (Same lesson
    as simhash_bits: for sub-second queries, plan CONSTRUCTION is the
    dominant term, and these operators build the expression 2-4×.)"""
    return F.expr(f"sqrt(aggregate(`{v}`, 0.0D, (acc, x) -> acc + x * x))")


def _pair_cosine(
    av: str, an: str, bv: str, bn: str, dims: int | None, decimals: int
) -> Column:
    """Per-pair cosine from PRECOMPUTED norms: dot(av,bv)/(an·bn).
    The norms are 2/3 of a cosine's flops and don't depend on the pair
    — computing them once per ROW instead of once per PAIR is the
    difference between O(rows·dims) and O(pairs·dims) norm work. Same
    doubles as cosine_similarity (same fold order, same sqrt, same
    DIVIDE null semantics), built as one SQL string (see
    :func:`_norm_expr` for why). *dims* kept for the unrolled-codegen
    experiment in functions.core — measured: unrolling wins ~2× on
    execution but loses 3× on plan construction at bench query sizes,
    so the fold string is the default."""
    f = float(10**decimals)
    dot = (
        f"aggregate(zip_with(`{av}`, `{bv}`, (x, y) -> x * y), "
        f"0.0D, (acc, x) -> acc + x)"
    )
    den = f"(`{an}` * `{bn}`)"
    cos = (
        f"CASE WHEN {den} IS NULL OR {den} = 0.0D THEN NULL "
        f"ELSE ({dot}) / {den} END"
    )
    # literal suffix D matters: bare `1000000.0` parses as DECIMAL in
    # Spark SQL (unlike F.lit), silently retyping the output column
    return F.expr(f"floor(({cos}) * {f}D + 0.5D) / {f}D")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    sim_decimals: int = 6,
    dims: int | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.

    Returns ``(query_id, neighbor_id, cosine, rank)``; self-matches are
    excluded by id when *exclude_self* (the within-relation default);
    rank ties broken by neighbor id on the *rounded* cosine so
    results are engine-reproducible. Pass *dims* for fixed-width
    embeddings: the dot product unrolls into codegen and norms
    precompute per row (see :func:`_pair_cosine`).

    CROSS-RELATION callers (queries and corpus are different tables
    with independent id spaces — e.g. bitext mining) must pass
    ``exclude_self=False``: the id-equality exclusion is meaningless
    across relations and would silently drop every equal-id cross
    pair — often exactly the aligned rows (round-11 advisor).
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("qv"),
        ).withColumn("qn", _norm_expr("qv"))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
    ).withColumn("cn", _norm_expr("cv"))
    scored = q.crossJoin(c)
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = scored.withColumn(
        "cosine", _pair_cosine("qv", "qn", "cv", "cn", dims, sim_decimals)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def sign_bucket(vec: Column, bits: int = 6, offset: int = 0) -> Column:
    """LSH bucket id: the sign pattern of *bits* dimensions starting at
    *offset*, packed as a string like ``"101100"``. A fixed-hyperplane
    variant of random-hyperplane LSH — deterministic and
    engine-portable; different offsets give independent hash tables."""
    parts = [
        F.when(F.element_at(vec, offset + i + 1) >= 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for i in range(bits)
    ]
    return F.concat(*parts)


def sign_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 6,
    tables: int = 4,
    sim_decimals: int = 6,
    dims: int | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE sign LSH: *tables* independent
    hash tables, each bucketing on a different slice of dimensions;
    candidates are the union of same-bucket pairs across tables (single
    tables have poor recall — a true neighbor only has to disagree on
    one of 6 signs to be lost; with L tables the miss probability
    decays as ``(1-p)^L``). Exact cosine ranks the deduplicated
    candidate set. As in :func:`cosine_topk`, cross-relation callers
    with independent id spaces must pass ``exclude_self=False``."""

    def tabled(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        base = df.select(
            F.col(id_col).alias(id_alias),
            _as_double(F.col(vec_col)).alias(vec_alias),
        ).withColumn(f"{vec_alias}_n", _norm_expr(vec_alias))
        sides = [
            base.select(
                id_alias,
                vec_alias,
                f"{vec_alias}_n",
                F.lit(t).alias("tbl"),
                sign_bucket(F.col(vec_alias), bits, offset=t * bits).alias(
                    "bucket"
                ),
            )
            for t in range(tables)
        ]
        out = sides[0]
        for s in sides[1:]:
            out = out.unionByName(s)
        return out

    q = tabled(queries, "query_id", "qv")
    c = tabled(corpus, "neighbor_id", "cv")
    cands = F.broadcast(q).join(c, on=["tbl", "bucket"])
    if exclude_self:
        cands = cands.filter(F.col("query_id") != F.col("neighbor_id"))
    cands = cands.select(
        "query_id", "qv", "qv_n", "neighbor_id", "cv", "cv_n"
    ).dropDuplicates(["query_id", "neighbor_id"])
    scored = cands.withColumn(
        "cosine", _pair_cosine("qv", "qv_n", "cv", "cv_n", dims, sim_decimals)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    centroid_stride: int | None = None,
    nprobe: int = 2,
    sim_decimals: int = 6,
    dims: int | None = None,
    assign_mode: str = "catalyst",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-style approximate top-k — the inverted-file architecture
    (coarse quantizer → probe lists) expressed relationally:

    1. *Centroids*: a deterministic sample of the corpus (every
       ``centroid_stride``-th id; a k-means pass would slot in here —
       determinism is what the oracle needs). The DEFAULT
       (``centroid_stride=None``) auto-sizes to ⌊√N⌋ from a corpus
       count (:func:`balanced_stride`) so assignment work is N^1.5 —
       a fixed stride makes nlist ∝ N and assignment N²/stride, the
       r12-measured scale-killer.
    2. *Assignment*: every corpus vector joins its nearest centroid
       (broadcast centroids ⨯ corpus, rank-1 by cosine) — this is the
       inverted list: at scale you'd repartition + persist it keyed by
       ``cid``, amortized over every later query.
       ``assign_mode="numpy"`` swaps this one step for the Arrow/BLAS
       matmul of :func:`assign_nearest_numpy` — the production build
       path when corpus × centroids is large (500 k × 500 × 64
       measured: ~90 s Catalyst vs a few s BLAS); hairline cosine ties
       may assign differently there, so oracle-twinned queries keep
       the default.
    3. *Probe*: each query ranks the same centroids and searches only
       its ``nprobe`` nearest lists — the equi-join on ``cid`` replaces
       the full corpus scan, cutting work by ~``nprobe/num_centroids``.

    Ties everywhere break on the rounded cosine + id so the result is
    engine-reproducible. As in :func:`cosine_topk`, *exclude_self*
    applies the id-equality self-exclusion — cross-relation callers
    with independent id spaces must pass ``exclude_self=False``.
    """
    centroid_stride = _resolve_stride(centroid_stride, corpus)
    c = corpus.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", _norm_expr("_v"))
    cents = F.broadcast(
        c.filter(F.col("_id") % centroid_stride == 0).select(
            F.col("_id").alias("cid"),
            F.col("_v").alias("centv"),
            F.col("_n").alias("centn"),
        )
    )

    def nearest(df: DataFrame, vec: str, norm: str, keep: int) -> DataFrame:
        scored = df.crossJoin(cents).withColumn(
            "_cos", _pair_cosine(vec, norm, "centv", "centn", dims, sim_decimals)
        )
        w = Window.partitionBy(df.columns[0]).orderBy(
            F.col("_cos").desc(), F.col("cid").asc()
        )
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= keep)
            .drop("centv", "centn", "_cos", "_rn")
        )

    if assign_mode == "numpy":
        picked = assign_nearest_numpy(
            c, cents, id_col="_id", vec_col="_v"
        )
        assigned = c.join(picked, on="_id").select(
            F.col("_id").alias("neighbor_id"),
            F.col("_v").alias("cv"),
            F.col("_n").alias("cn"),
            "cid",
        )
    elif assign_mode == "catalyst":
        # Assignment is rank-1, so it needs no window sort at all:
        # max_by over the broadcast-joined scores aggregates map-side
        # (partial max per corpus id collapses before any exchange), so
        # the shuffle carries ONE row per corpus vector instead of the
        # whole corpus × centroid scored relation with its vectors. The
        # ordering struct (cos, −cid) reproduces the window's
        # (cos DESC, cid ASC) tie-break exactly.
        scored_c = c.crossJoin(cents).withColumn(
            "_cos",
            _pair_cosine("_v", "_n", "centv", "centn", dims, sim_decimals),
        )
        assigned = (
            scored_c.groupBy("_id")
            .agg(
                F.max_by(
                    F.struct(F.col("_v"), F.col("_n"), F.col("cid")),
                    F.struct(F.col("_cos"), (-F.col("cid")).alias("_nc")),
                ).alias("_b")
            )
            .select(
                F.col("_id").alias("neighbor_id"),
                F.col("_b._v").alias("cv"),
                F.col("_b._n").alias("cn"),
                F.col("_b.cid").alias("cid"),
            )
        )
    else:
        raise ValueError(f"unknown assign_mode: {assign_mode!r}")
    probes = nearest(
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("qv"),
        ).withColumn("qn", _norm_expr("qv")),
        "qv",
        "qn",
        nprobe,
    )
    # queries × nprobe is tiny — broadcast it so the inverted lists
    # stream through the probe join without shuffling the corpus.
    scored = F.broadcast(probes).join(assigned, on="cid")
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = scored.withColumn(
        "cosine", _pair_cosine("qv", "qn", "cv", "cn", dims, sim_decimals)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_batch_knn_bucketed(
    corpus: DataFrame,
    table_name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    centroid_stride: int | None = None,
    nprobe: int = 2,
    sim_decimals: int = 6,
    dims: int | None = None,
    num_buckets: int = 8,
    exclude_self: bool = True,
) -> DataFrame:
    """Batch kNN over a PERSISTED BUCKETED inverted file — the
    amortized-index shape SCALE.md's IVF note names: the ``(vec_id,
    cid, vector)`` list relation is built once (same deterministic
    coarse quantizer and rank-1 ``max_by`` assignment as
    :func:`ivf_topk`), written as a managed table BUCKETED BY ``cid``,
    and every subsequent query batch probes it by joining on ``cid``
    with ZERO exchange on the index side — the bucketed scan already
    satisfies the join's hash distribution, so only the (small) probe
    relation shuffles. Plan-asserted in tests/test_bucketed_join.py.

    The query batch here is the WHOLE corpus (self-kNN graph — the
    input for graph-based clustering, SemDeDup-style pruning, or
    hard-negative mining), which is exactly the batch size where
    broadcasting the probes stops being an option and the bucketed
    index earns its keep; the probe join is hinted SHUFFLE_HASH so the
    demonstration cannot silently degrade to a broadcast."""
    from air_quality_etl_pipeline_spark.sources.writers import (
        write_bucketed_table,
    )

    spark = corpus.sparkSession
    centroid_stride = _resolve_stride(centroid_stride, corpus)
    c = corpus.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", _norm_expr("_v"))
    cents = F.broadcast(
        c.filter(F.col("_id") % centroid_stride == 0).select(
            F.col("_id").alias("cid"),
            F.col("_v").alias("centv"),
            F.col("_n").alias("centn"),
        )
    )
    # rank-1 assignment via map-side max_by — same shape (and the same
    # (cos, −cid) tie-break) as ivf_topk's catalyst path
    scored_c = c.crossJoin(cents).withColumn(
        "_cos", _pair_cosine("_v", "_n", "centv", "centn", dims, sim_decimals)
    )
    assigned = (
        scored_c.groupBy("_id")
        .agg(
            F.max_by(
                F.struct(F.col("_v"), F.col("_n"), F.col("cid")),
                F.struct(F.col("_cos"), (-F.col("cid")).alias("_nc")),
            ).alias("_b")
        )
        .select(
            F.col("_id").alias("neighbor_id"),
            F.col("_b._v").alias("cv"),
            F.col("_b._n").alias("cn"),
            F.col("_b.cid").alias("cid"),
        )
    )
    write_bucketed_table(assigned, table_name, ["cid"], num_buckets)
    index = spark.table(table_name)

    q = c.select(
        F.col("_id").alias("query_id"),
        F.col("_v").alias("qv"),
        F.col("_n").alias("qn"),
    )
    probe_scored = q.crossJoin(cents).withColumn(
        "_cos", _pair_cosine("qv", "qn", "centv", "centn", dims, sim_decimals)
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("cid").asc()
    )
    probes = (
        probe_scored.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "qv", "qn", "cid")
    )
    scored = probes.hint("shuffle_hash").join(index, on="cid")
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = scored.withColumn(
        "cosine", _pair_cosine("qv", "qn", "cv", "cn", dims, sim_decimals)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def assign_nearest_numpy(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "_id",
    vec_col: str = "_v",
    cid_col: str = "cid",
    centv_col: str = "centv",
    metric: str = "cosine",
) -> DataFrame:
    """BLAS-speed nearest-centroid assignment: Arrow-batched
    ``mapInPandas`` computing one ``(batch × dims) @ (dims × k)``
    matmul per batch — the production path for INDEX BUILDS (IVF list
    assignment, k-means at corpus scale), where the Catalyst
    crossJoin + fold evaluates ``rows × k × dims`` scalar expressions
    (measured at 500 k × 500 × 64: ~90 s Catalyst vs seconds in BLAS).

    ``metric="cosine"`` picks the maximum cosine (IVF); ``"euclidean"``
    the minimum squared distance (k-means). Ties go to the smallest
    centroid id (the centroid matrix is ordered by cid; argmax/argmin
    keep the first extremum). Float summation ORDER differs from the
    Catalyst fold, so hairline ties can assign differently — this is
    the documented production/oracle split (same policy as xxhash64 vs
    md5 hash families): oracle-twinned queries keep the Catalyst path.
    The closure is self-contained (k·dims centroid list captured by
    value, imports inside), so executors need nothing on sys.path.
    Returns ``(id_col, cid)``.
    """
    if metric not in ("cosine", "euclidean"):
        raise ValueError(f"unknown metric: {metric!r}")
    cent_rows = sorted(
        (r[cid_col], list(r[centv_col])) for r in centroids.collect()
    )
    cids = [c for c, _ in cent_rows]
    cent_mat = [v for _, v in cent_rows]
    id_type = vectors.schema[id_col].dataType.simpleString()

    def assign(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cent_mat, dtype=np.float64)
        ids = np.asarray(cids)
        if metric == "cosine":
            Cn = np.linalg.norm(C, axis=1)
            Cn[Cn == 0] = 1.0
            Cu = C / Cn[:, None]
        else:
            C2 = (C * C).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if metric == "cosine":
                Vn = np.linalg.norm(V, axis=1)
                Vn[Vn == 0] = 1.0
                pick = np.argmax((V / Vn[:, None]) @ Cu.T, axis=1)
            else:
                d2 = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + C2[None, :]
                pick = np.argmin(d2, axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "cid": ids[pick]})

    return vectors.select(id_col, vec_col).mapInPandas(
        assign, f"`{id_col}` {id_type}, cid long"
    )


def kmeans_update_step(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int | None = None,
    dist_decimals: int = 6,
    centroids: DataFrame | None = None,
    assign_mode: str = "catalyst",
) -> DataFrame:
    """One Lloyd (k-means) iteration, fully relational:

    1. *Assign*: each vector to its nearest centroid by squared
       euclidean distance (broadcast centroids, ``min_by`` aggregate —
       map-side partials, no window sort; ties break on centroid id).
       ``assign_mode="numpy"`` swaps this step for the Arrow/BLAS
       matmul (:func:`assign_nearest_numpy`, euclidean metric) — the
       corpus-scale build path; oracle-twinned queries keep the
       default.
    2. *Update*: new centroid sums per (cluster, dimension) via
       posexplode + one groupBy — returns
       ``(cid, dim, sum_micro, n_points)``; the caller divides
       ``sum_micro / n_points / 1e6`` for the new means and feeds them
       back for the next iteration.

    Accumulation is integer micro-units, so the update is exact,
    associative, and oracle-reproducible. At 100 TB each iteration is:
    one broadcast of k centroids, one scan with a k-way distance
    argmin, one (k·dims)-sized aggregation — the textbook scalable
    k-means loop (distances rounded to *dist_decimals* so the argmin is
    engine-portable).

    ``centroid_stride=None`` (with no explicit *centroids*) auto-sizes
    the seed set to k ≈ √N (:func:`balanced_stride`).
    """
    v = df.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
    )
    if centroids is None:
        centroid_stride = _resolve_stride(centroid_stride, df)
    cents = F.broadcast(
        centroids
        if centroids is not None
        else v.filter(F.col("_id") % centroid_stride == 0).select(
            F.col("_id").alias("cid"), F.col("_v").alias("centv")
        )
    )
    if assign_mode == "numpy":
        picked = assign_nearest_numpy(
            v, cents, id_col="_id", vec_col="_v", metric="euclidean"
        )
        assigned = v.join(picked, on="_id")
    elif assign_mode == "catalyst":
        f = float(10**dist_decimals)
        dist = F.expr(
            "floor(aggregate(zip_with(_v, centv, (x, y) -> (x - y) * (x - y)), "
            f"0.0D, (acc, x) -> acc + x) * {f}D + 0.5D) / {f}D"
        )
        assigned = (
            v.crossJoin(cents)
            .withColumn("_dist", dist)
            .groupBy("_id")
            .agg(
                F.min_by(
                    F.struct(F.col("cid"), F.col("_v")),
                    F.struct(F.col("_dist"), F.col("cid")),
                ).alias("_b")
            )
            .select(
                "_id", F.col("_b.cid").alias("cid"), F.col("_b._v").alias("_v")
            )
        )
    else:
        raise ValueError(f"unknown assign_mode: {assign_mode!r}")
    exploded = assigned.select(
        "cid", F.posexplode("_v").alias("_pos", "_x")
    )
    return exploded.groupBy(
        "cid", (F.col("_pos") + 1).cast("long").alias("dim")
    ).agg(
        F.sum(F.floor(F.col("_x") * 1e6 + F.lit(0.5)).cast("long")).alias(
            "sum_micro"
        ),
        F.count("*").alias("n_points"),
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    sim_decimals: int = 6,
    dims: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the top-*k* most-similar corpus vectors whose *label_col* DIFFERS
    from the query's — the near-misses a contrastive loss learns most
    from (in-batch random negatives are mostly easy; mined hard
    negatives drive the decision boundary).

    Same scale shape as :func:`cosine_topk` — the query set broadcasts,
    the corpus streams through once, never shuffled — with the label
    inequality applied BEFORE ranking so each query's k slots hold only
    admissible negatives. Returns
    ``(query_id, query_label, neighbor_id, neighbor_label, cosine,
    rank)``."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(label_col).alias("query_label"),
            _as_double(F.col(vec_col)).alias("qv"),
        ).withColumn("qn", _norm_expr("qv"))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        _as_double(F.col(vec_col)).alias("cv"),
    ).withColumn("cn", _norm_expr("cv"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_label") != F.col("neighbor_label"))
        .withColumn(
            "cosine", _pair_cosine("qv", "qn", "cv", "cn", dims, sim_decimals)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "cosine",
            "rank",
        )
    )


def _d2_micro(v_col: str, c_col: str, dist_decimals: int = 6):
    """Squared euclidean distance between two array<double> columns,
    micro-rounded to an INTEGER (long). Integer distances make every
    downstream comparison (argmin ties, sampling decisions) exact and
    engine-portable — the float fold is identical in Spark's
    ``aggregate`` and DuckDB's ``list_sum`` (sequential left-to-right),
    and the single rounding point removes repr ambiguity."""
    f = float(10**dist_decimals)
    return F.expr(
        f"cast(floor(aggregate(zip_with({v_col}, {c_col}, "
        f"(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x) "
        f"* {f}D + 0.5D) as bigint)"
    )


def kmeans_parallel_candidates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rounds: int = 2,
    oversample: int = 8,
    dist_decimals: int = 6,
) -> DataFrame:
    """k-means‖ candidate sampling (Bahmani et al., "Scalable
    k-means++", VLDB 2012), fully deterministic: returns
    ``(vec_id, weight)`` — the sampled candidate centers and how many
    points each would own.

    Each round samples point *x* with probability
    ``min(1, ℓ·d²(x,C)/φ)`` where ``φ = Σ d²(·,C)``; after *rounds*
    passes the expected candidate count is ``O(ℓ·rounds)`` regardless
    of corpus size, so the driver-side reduction to k (see
    :func:`kmeans_parallel_init`) handles a few dozen rows. Determinism
    (the oracle replays this in SQL):

    - "random" draws are salted md5 hashes of the point id —
      ``u = md5_long(id, 'km<r>') ∈ [0, 2^60)``;
    - the sampling test is INTEGER arithmetic:
      ``u·φ < ℓ·d²_micro·2^60`` evaluated in decimal(38,0) (Spark) /
      HUGEINT (DuckDB) — no float division to round differently;
    - the seed center is the id minimizing ``md5_long(id, 'km0')``
      (a uniform draw, hash-determinized).

    Scale shape per round: one broadcast of the current centers, one
    scan with a min-distance aggregate, one driver scalar (φ — the same
    high-water-mark pattern as ``plans/merge.py``). Points already
    chosen have ``d² = 0`` and can never re-sample (strict inequality).
    """
    two60 = 1 << 60
    dec = "decimal(38,0)"
    v = df.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
    )
    seed = F.broadcast(
        v.select(
            F.min_by(
                F.struct(F.col("_id"), F.col("_v")),
                F.struct(
                    md5_long(F.col("_id").cast("string"), "km0"), F.col("_id")
                ),
            ).alias("_s")
        ).select(F.col("_s._id").alias("cid"), F.col("_s._v").alias("centv"))
    )
    cents = seed
    for r in range(1, rounds + 1):
        cost = (
            v.crossJoin(F.broadcast(cents))
            .withColumn("_d2", _d2_micro("_v", "centv", dist_decimals))
            .groupBy("_id", "_v")
            .agg(F.min("_d2").alias("_cost"))
        )
        phi = cost.agg(F.sum("_cost")).first()[0] or 0
        u = md5_long(F.col("_id").cast("string"), f"km{r}")
        sampled = cost.filter(
            u.cast(dec) * F.lit(int(phi)).cast(dec)
            < (
                F.lit(oversample).cast(dec)
                * F.col("_cost").cast(dec)
                * F.lit(two60).cast(dec)
            )
        ).select(F.col("_id").alias("cid"), F.col("_v").alias("centv"))
        cents = cents.unionByName(sampled)
    assigned = (
        v.crossJoin(F.broadcast(cents))
        .withColumn("_d2", _d2_micro("_v", "centv", dist_decimals))
        .groupBy("_id")
        .agg(F.min_by("cid", F.struct(F.col("_d2"), F.col("cid"))).alias("cid"))
    )
    return assigned.groupBy(F.col("cid").alias(id_col)).agg(
        F.count("*").alias("weight")
    )


def kmeans_parallel_init(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rounds: int = 2,
    oversample: int = 8,
    dist_decimals: int = 6,
) -> DataFrame:
    """k-means‖ initialization: reduce the sampled candidates to *k*
    centers by deterministic weighted farthest-point traversal (the
    greedy stand-in for weighted k-means++ — reproducible, and on
    O(ℓ·rounds) candidates quality-equivalent in practice).

    Only the candidate vectors + weights come to the driver (a few
    dozen rows regardless of corpus size); selection maximizes
    ``weight · min_dist²`` with (value, id) tie-breaks. Returns
    ``(cid, centv)`` with cid = 0..k-1 in selection order, ready to
    feed :func:`kmeans_update_step` / :func:`kmeans_fit`."""
    spark = df.sparkSession
    cand = kmeans_parallel_candidates(
        df, id_col, vec_col, rounds, oversample, dist_decimals
    )
    vecs = df.select(
        F.col(id_col).alias(id_col), _as_double(F.col(vec_col)).alias("_v")
    )
    rows = (
        cand.join(vecs, on=id_col)
        .select(id_col, "weight", "_v")
        .collect()
    )
    # deterministic greedy: seed = heaviest (tie: min id), then argmax
    # of weight * min-squared-distance to the chosen set
    pool = {r[id_col]: (int(r["weight"]), list(r["_v"])) for r in rows}
    first = min(pool, key=lambda i: (-pool[i][0], i))
    chosen = [first]
    mind = {
        i: sum((a - b) * (a - b) for a, b in zip(v, pool[first][1]))
        for i, (_, v) in pool.items()
    }
    while len(chosen) < k and len(chosen) < len(pool):
        nxt = min(
            (i for i in pool if i not in chosen),
            key=lambda i: (-pool[i][0] * mind[i], i),
        )
        chosen.append(nxt)
        for i, (_, v) in pool.items():
            d = sum((a - b) * (a - b) for a, b in zip(v, pool[nxt][1]))
            if d < mind[i]:
                mind[i] = d
    out = [(cid, pool[i][1]) for cid, i in enumerate(chosen)]
    return spark.createDataFrame(out, "cid long, centv array<double>")


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int | None = None,
    iterations: int = 3,
    dist_decimals: int = 6,
    init: str = "stride",
) -> tuple[DataFrame, list[float]]:
    """Full Lloyd loop: iterate :func:`kmeans_update_step`, rebuilding
    the centroid set between iterations, and track the within-cluster
    SSE per pass. Returns ``(centroids_df(cid, centv), sse_history)``.

    Driver/executor split follows graph.py's pattern for iterative
    algorithms: the DATA never leaves the cluster — each iteration is
    one broadcast + one scan + one (k·dims)-row aggregate; only the
    k·dims centroid SUMS (a few KB regardless of corpus size) come to
    the driver to rebuild the next broadcast. SSE is monotonically
    non-increasing — the classic convergence certificate, asserted in
    tests.

    ``init="stride"`` seeds with every *centroid_stride*-th id (cheap,
    arbitrary); ``init="parallel"`` seeds with
    :func:`kmeans_parallel_init` (k-means‖), which costs *rounds* extra
    passes but starts from well-spread, density-weighted centers.
    ``centroid_stride=None`` auto-sizes to ⌊√N⌋ (k ≈ √N clusters —
    see :func:`balanced_stride`; a fixed stride makes every Lloyd
    pass N²/stride).
    """
    spark = df.sparkSession
    centroid_stride = _resolve_stride(centroid_stride, df)
    v = df.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
    )
    if init == "parallel":
        k = max(1, v.count() // centroid_stride)
        cents = kmeans_parallel_init(
            df, k, id_col, vec_col, dist_decimals=dist_decimals
        )
    elif init == "stride":
        cents = v.filter(F.col("_id") % centroid_stride == 0).select(
            F.col("_id").alias("cid"), F.col("_v").alias("centv")
        )
    else:
        raise ValueError(f"unknown init: {init!r}")
    f = float(10**dist_decimals)
    dist = F.expr(
        "floor(aggregate(zip_with(_v, centv, (x, y) -> (x - y) * (x - y)), "
        f"0.0D, (acc, x) -> acc + x) * {f}D + 0.5D) / {f}D"
    )
    sse_history: list[float] = []
    for _ in range(iterations):
        scored = v.crossJoin(F.broadcast(cents)).withColumn("_dist", dist)
        assigned = scored.groupBy("_id").agg(
            F.min(F.col("_dist")).alias("_best"),
            F.min_by(
                F.struct(F.col("cid"), F.col("_v")),
                F.struct(F.col("_dist"), F.col("cid")),
            ).alias("_b"),
        )
        stats = (
            assigned.select(
                F.col("_b.cid").alias("cid"),
                F.col("_best"),
                F.posexplode("_b._v").alias("_pos", "_x"),
            )
            .groupBy("cid", "_pos")
            .agg(
                F.sum(F.floor(F.col("_x") * 1e6 + F.lit(0.5)).cast("long")).alias(
                    "s"
                ),
                F.count("*").alias("n"),
                F.sum("_best").alias("sse_part"),
            )
            .collect()
        )
        # k·dims rows on the driver: rebuild centroid arrays
        by_cid: dict[int, dict[int, tuple[int, int]]] = {}
        sse = 0.0
        for r in stats:
            by_cid.setdefault(r.cid, {})[r._pos] = (r.s, r.n)
            if r._pos == 0:
                sse += r.sse_part
        sse_history.append(sse)
        rows = [
            (
                cid,
                [
                    dims[p][0] / dims[p][1] / 1e6
                    for p in sorted(dims)
                ],
            )
            for cid, dims in sorted(by_cid.items())
        ]
        cents = spark.createDataFrame(
            rows, "cid long, centv array<double>"
        )
    return cents, sse_history


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector max-abs int8 scalar quantization:
    ``q_i = floor(x_i / s · 127 + 0.5)`` with ``s = max_i |x_i|``
    (zero vectors quantize to zeros). Returns
    ``(id, scale, q: array<int>)``.

    The standard 4× memory/bandwidth reduction for ANN at scale —
    int8 corpora keep 100 TB of fp32 embeddings in a quarter of the
    shuffle/cache footprint, and dot products stay integer until the
    final rescale. Pure Catalyst ``transform`` over the array: no
    Python, no shuffle, runs inside the scan. The rounding is
    floor(x+0.5) rather than engine-native round() so any SQL engine
    reproduces the codes bit-for-bit.
    """
    v = _as_double(F.col(vec_col))
    s = F.array_max(F.transform(v, F.abs))
    q = F.when(
        s == 0,
        F.transform(v, lambda x: F.lit(0)),
    ).otherwise(
        F.transform(v, lambda x: F.floor(x / s * 127 + F.lit(0.5)).cast("int"))
    )
    return df.select(
        F.col(id_col),
        s.alias("scale"),
        q.alias("q"),
    )


def label_centroid_micro(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid accumulation via ``applyInPandas`` (grouped
    map): each label's vectors arrive as ONE Arrow batch, numpy sums
    them dimension-wise → ``(label, dim, sum_micro, n_vectors)``
    (centroid = sum_micro / n_vectors / 1e6). This is the k-means
    update step / class-prototype builder, and the grouped-map exemplar
    of the engine: vectorized BLAS work per group where per-element
    Catalyst lambdas would be interpreted.

    Values are accumulated in integer MICRO-units (``floor(x·1e6 +
    0.5)`` per element, then int64 sums) — exact, associative, and
    bit-identical across engines, so the op is fully oracle-verifiable
    despite running in Python (float64 sums would depend on summation
    order). One shuffle on label; group state is that label's vectors.

    The closure is self-contained (imports inside, no module refs):
    workers never import this package.
    """
    from pyspark.sql import types as T

    dt = df.schema[label_col].dataType
    if not isinstance(
        dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        # the label is cast to long for the engine-portable output
        # schema — a string label would cast to NULL and collapse
        # every document into one group, failing deep inside the
        # pandas closure (r12 verdict: mirror asof_join's guard)
        raise ValueError(
            f"label_centroid_micro label column {label_col!r} must be "
            f"integer-typed, got {dt.simpleString()}; map string ids "
            "to a dense long (md5_long / dense_id) first"
        )
    out_schema = (
        "label long, dim long, sum_micro long, n_vectors long"
    )

    def centroid(pdf):
        import numpy as np
        import pandas as pd

        mat = np.array(pdf["_v"].tolist(), dtype=np.float64)
        micro = np.floor(mat * 1e6 + 0.5).astype(np.int64)
        d = mat.shape[1]
        return pd.DataFrame(
            {
                "label": np.full(d, int(pdf["_l"].iloc[0]), dtype=np.int64),
                "dim": np.arange(1, d + 1, dtype=np.int64),
                "sum_micro": micro.sum(axis=0),
                "n_vectors": np.full(d, len(pdf), dtype=np.int64),
            }
        )

    prepped = df.select(
        F.col(label_col).cast("long").alias("_l"),
        _as_double(F.col(vec_col)).alias("_v"),
    )
    return prepped.groupBy("_l").applyInPandas(centroid, out_schema)


def bitext_margin_mine(
    src: DataFrame,
    tgt: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    method: str = "exact",
    **ivf_kwargs,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk, ACL'19): mine
    translation pairs between two embedding spaces (*src*, *tgt* —
    e.g. two languages under LASER-style aligned encoders) by the
    RATIO margin

        margin(x, y) = cos(x, y) /
            ((Σ_{z∈NNk(x)} cos(x,z) + Σ_{z∈NNk(y)} cos(z,y)) / 2k)

    over forward (src→tgt) and backward (tgt→src) kNN candidates,
    keeping only MUTUAL-BEST pairs (y is x's margin-argmax AND x is
    y's). The margin normalizes away hubness: a pair only survives if
    it stands out from BOTH points' neighborhoods, which is what makes
    this the standard multilingual training-data miner (CCMatrix).

    Returns ``(src_id, tgt_id, cos_micro, margin_micro)``. Arithmetic
    is engine-portable end to end: cosines quantize to integer
    micro-units once, neighborhood sums are exact integer aggregates,
    and the margin is ONE integer division ``(cos·2k·10^6) div
    (sum_f + sum_b)`` over non-negative operands (truncation == floor
    on both engines). Pairs with negative cosine, and nodes whose
    neighborhood-sum denominator is ≤ 0, are excluded — a
    negative-similarity "translation" is never mineable.

    ``method="exact"`` composes :func:`cosine_topk` (the oracle-exact
    baseline — O(|src|·|tgt|) scoring); ``method="ivf"`` composes
    :func:`ivf_topk` with ``**ivf_kwargs`` — the 100 TB path: each
    direction probes inverted lists instead of the full cross product,
    and with ``nprobe`` = all lists it degenerates to the exact
    answer (pinned in tests). Each kNN relation is referenced twice
    (neighborhood sums + candidate pairs); nothing is cached, so the
    miner leaves no session state behind and a loop of calls stays
    bounded.

    *src* and *tgt* may share id values (two independently-numbered
    embedding tables — the natural bitext shape): the kNN passes run
    with ``exclude_self=False``, so an equal-id cross pair — often
    exactly the aligned translation — is fully mineable (round-11
    advisor; pinned by the overlapping-id test).
    """
    knn = cosine_topk if method == "exact" else ivf_topk
    if method not in ("exact", "ivf"):
        raise ValueError(f"unknown method: {method!r}")
    if "exclude_self" in ivf_kwargs:
        # the miner OWNS this decision (cross-relation kNN is always
        # exclude_self=False here); without this check the duplicate
        # keyword surfaces as an opaque TypeError from knn(...)
        raise ValueError(
            "bitext_margin_mine always runs its kNN with "
            "exclude_self=False (cross-relation id spaces); do not "
            "pass exclude_self"
        )
    cm = F.floor(F.col("cosine") * F.lit(1000000.0) + F.lit(0.5)).cast(
        "long"
    )
    fwd = (
        knn(
            tgt,
            src,
            id_col=id_col,
            vec_col=vec_col,
            k=k,
            exclude_self=False,
            **ivf_kwargs,
        )
        .select(
            F.col("query_id").alias("src_id"),
            F.col("neighbor_id").alias("tgt_id"),
            cm.alias("cm"),
        )
    )
    bwd = (
        knn(
            src,
            tgt,
            id_col=id_col,
            vec_col=vec_col,
            k=k,
            exclude_self=False,
            **ivf_kwargs,
        )
        .select(
            F.col("neighbor_id").alias("src_id"),
            F.col("query_id").alias("tgt_id"),
            cm.alias("cm"),
        )
    )
    sum_f = fwd.groupBy("src_id").agg(
        F.sum("cm").cast("long").alias("sum_f")
    )
    sum_b = bwd.groupBy("tgt_id").agg(
        F.sum("cm").cast("long").alias("sum_b")
    )
    cand = fwd.unionByName(bwd).dropDuplicates(["src_id", "tgt_id"])
    m = (
        cand.join(sum_f, on="src_id")
        .join(sum_b, on="tgt_id")
        .filter(
            (F.col("cm") >= 0) & (F.col("sum_f") + F.col("sum_b") > 0)
        )
        .withColumn(
            "margin_micro",
            F.expr(f"(cm * {2 * k} * 1000000) div (sum_f + sum_b)").cast(
                "long"
            ),
        )
    )
    wf = Window.partitionBy("src_id").orderBy(
        F.col("margin_micro").desc(), F.col("tgt_id").asc()
    )
    wb = Window.partitionBy("tgt_id").orderBy(
        F.col("margin_micro").desc(), F.col("src_id").asc()
    )
    return (
        m.withColumn("_qf", F.row_number().over(wf))
        .withColumn("_qb", F.row_number().over(wb))
        .filter((F.col("_qf") == 1) & (F.col("_qb") == 1))
        .select(
            "src_id",
            "tgt_id",
            F.col("cm").alias("cos_micro"),
            "margin_micro",
        )
    )


def doc_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mean-pool sentence embeddings to ONE vector per *label_col*
    (document): engine-exact arithmetic end to end — per-element micro
    quantization + int64 dimension sums via
    :func:`label_centroid_micro`, then a single IEEE division
    ``sum_micro / (n_vectors · 1e6)`` per dimension (exactly-rounded
    and order-free on both engines, unlike a float64 running mean).
    Returns ``(label_col, vec_col)`` with the centroid as
    ``array<double>``, dimensions in order.

    Scale: one shuffle on the label (the grouped-map accumulation),
    then a label-local pivot of ``dims`` rows back to an array — the
    output is document-count-sized, never sentence-count-sized.

    PRECONDITION (enforced — :func:`label_centroid_micro` raises a
    ValueError otherwise): *label_col* must be integer-typed — the
    pooling casts it to long for the engine-portable output schema, so
    a string doc id would null out and collapse every document into
    one group. Map string ids to a dense long (e.g. ``md5_long`` or
    ``dense_id``) first.
    """
    c = label_centroid_micro(
        df.select(
            F.col(label_col).alias("label"),
            F.col(vec_col).alias("embedding"),
        ),
        "label",
        "embedding",
    )
    val = F.col("sum_micro").cast("double") / (
        F.col("n_vectors").cast("double") * F.lit(1000000.0)
    )
    return (
        c.withColumn("_val", val)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "_val"))),
                lambda s: s["_val"],
            ).alias(vec_col)
        )
        .withColumnRenamed("label", label_col)
    )


def bitext_doc_align(
    src_sents: DataFrame,
    tgt_sents: DataFrame,
    doc_col: str = "doc_id",
    vec_col: str = "embedding",
    k: int = 3,
    method: str = "exact",
    **ivf_kwargs,
) -> DataFrame:
    """Parallel-DOCUMENT mining — the other half of the
    Artetxe-Schwenk bitext pipeline (round-11 verdict #3, the
    CCAligned/CCMatrix document-level recipe): mean-pool each side's
    sentence embeddings to per-document centroids
    (:func:`doc_centroids`) and run the ratio-margin + mutual-best
    algebra of :func:`bitext_margin_mine` over the DOCUMENT grain.
    Input: two sentence-embedding relations carrying ``(doc_col,
    vec_col)``; output: ``(src_id, tgt_id, cos_micro, margin_micro)``
    — one row per mined document pair.

    The two sides' document id spaces may overlap (independently
    numbered corpora — the natural shape): the margin miner runs its
    kNN with ``exclude_self=False``, so equal-id cross pairs are fully
    mineable. Each centroid relation is referenced by BOTH kNN
    directions; nothing is cached, as in :func:`bitext_margin_mine`.

    Scale: centroid pooling is one label shuffle per side and shrinks
    the problem from sentences to documents BEFORE any cross-relation
    scoring; ``method="ivf"`` then probes inverted lists instead of
    the doc×doc cross product, exactly as in the sentence-grain miner.

    PRECONDITION (enforced on both sides with a clear ValueError):
    *doc_col* must be integer-typed (see :func:`doc_centroids` — the
    pooling casts it to long).
    """
    return bitext_margin_mine(
        doc_centroids(src_sents, doc_col, vec_col),
        doc_centroids(tgt_sents, doc_col, vec_col),
        id_col=doc_col, vec_col=vec_col, k=k, method=method, **ivf_kwargs,
    )


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bits: int = 6,
    sim_decimals: int = 6,
    dims: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: same-bucket candidates with cosine ≥
    *threshold* (near-dup vectors almost surely share the sign bucket)."""
    v = df.select(
        F.col(id_col).alias("_id"),
        _as_double(F.col(vec_col)).alias("_v"),
        sign_bucket(F.col(vec_col), bits).alias("bucket"),
    ).withColumn("_n", _norm_expr("_v"))
    left = v.select(
        F.col("bucket"),
        F.col("_id").alias("id_a"),
        F.col("_v").alias("v_a"),
        F.col("_n").alias("n_a"),
    )
    right = v.select(
        F.col("bucket"),
        F.col("_id").alias("id_b"),
        F.col("_v").alias("v_b"),
        F.col("_n").alias("n_b"),
    )
    return (
        left.join(right, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine", _pair_cosine("v_a", "n_a", "v_b", "n_b", dims, sim_decimals)
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_clusters: int = 8,
    threshold: float = 0.35,
    centroid_stride: int | None = None,
    sim_decimals: int = 6,
    dims: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): cluster the embedding
    space coarsely, then drop any vector whose cosine to a LOWER-id
    member of the SAME cluster exceeds *threshold* — semantic
    duplicates that exact/MinHash dedup cannot see.

    Relational decomposition (no all-pairs anywhere):

    1. *Cluster*: assign every vector to its nearest of *num_clusters*
       deterministic centroids (ids ``< num_clusters``, or every
       ``centroid_stride``-th id) — broadcast centroids, map-side
       ``max_by`` rank-1, ONE row per vector on the exchange (same
       shape as :func:`ivf_topk`'s assignment; a k-means fit slots in
       via :func:`kmeans_fit` when determinism isn't required).
    2. *Pair*: self-join WITHIN clusters on ``id_a < id_b`` — the
       quadratic term is bounded by the largest cluster, which is the
       knob SemDeDup scales with (clusters ∝ corpus / target size).
    3. *Resolve*: keep the lowest id of each dup relation — a vector
       drops iff SOME earlier same-cluster vector is within the
       threshold, so the kept set is exactly the greedy lowest-id
       exemplar cover, computable in one aggregation (no iteration).

    Returns every input id: ``(vec_id, cluster, status, n_dup_neighbors,
    max_dup_cosine)`` with status ``keep``/``drop``; the rounded-cosine
    tie policy makes the output engine-reproducible.
    """
    c = df.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", _norm_expr("_v"))
    if centroid_stride is None:
        cent_filter = F.col("_id") < num_clusters
    else:
        cent_filter = F.col("_id") % centroid_stride == 0
    cents = F.broadcast(
        c.filter(cent_filter).select(
            F.col("_id").alias("cid"),
            F.col("_v").alias("centv"),
            F.col("_n").alias("centn"),
        )
    )
    scored = c.crossJoin(cents).withColumn(
        "_cos", _pair_cosine("_v", "_n", "centv", "centn", dims, sim_decimals)
    )
    assigned = (
        scored.groupBy("_id")
        .agg(
            F.max_by(
                F.struct(F.col("_v"), F.col("_n"), F.col("cid")),
                F.struct(F.col("_cos"), (-F.col("cid")).alias("_nc")),
            ).alias("_b")
        )
        .select(
            "_id",
            F.col("_b._v").alias("_v"),
            F.col("_b._n").alias("_n"),
            F.col("_b.cid").alias("cluster"),
        )
    )
    earlier = assigned.select(
        F.col("cluster"),
        F.col("_id").alias("id_b"),
        F.col("_v").alias("v_b"),
        F.col("_n").alias("n_b"),
    )
    # LEFT self-join with the dup predicate as the join residual, so
    # every vector survives into the aggregate and no third join is
    # needed to restore the keeps: the assignment subtree is executed
    # exactly twice (the self-join's two sides — its floor), not
    # three times. AQE only reuses an exchange subtree while its
    # consumers stay canonically equal, so a third, differently-pruned
    # reference would re-execute the broadcast-centroid assignment pass.
    L, R = assigned.alias("L"), earlier.alias("R")
    paired = L.join(
        R,
        (F.col("L.cluster") == F.col("R.cluster"))
        & (F.col("R.id_b") < F.col("L._id"))
        & (
            # _v/_n live only on L, v_b/n_b only on R — unqualified
            # names are unambiguous (_pair_cosine backticks its
            # arguments whole, so qualified names would not resolve)
            _pair_cosine("_v", "_n", "v_b", "n_b", dims, sim_decimals)
            >= threshold
        ),
        "left",
    ).select(
        F.col("_id"),
        F.col("L.cluster").alias("cluster"),
        F.col("id_b"),
        F.when(
            F.col("id_b").isNotNull(),
            _pair_cosine("_v", "_n", "v_b", "n_b", dims, sim_decimals),
        ).alias("_cos"),
    )
    return paired.groupBy("_id", "cluster").agg(
        F.count("id_b").cast("long").alias("_nd"),
        F.max("_cos").alias("max_dup_cosine"),
    ).select(
        F.col("_id").alias(id_col),
        F.col("cluster"),
        F.when(F.col("_nd") > 0, F.lit("drop"))
        .otherwise(F.lit("keep"))
        .alias("status"),
        F.col("_nd").alias("n_dup_neighbors"),
        "max_dup_cosine",
    )
