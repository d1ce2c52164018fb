"""Product quantization (Jégou et al., TPAMI'11): compress vectors to
``m`` sub-space codes and search with asymmetric distance (ADC) lookup
tables — the memory-side half of a billion-scale ANN index (IVF-PQ).

Spark-first decomposition:

- **Encode** is embarrassingly parallel: with the (tiny) codebook bound
  into the plan as ONE constant-folded literal, every vector's ``m``
  codes are computed INSIDE the scan by higher-order-function
  expressions — no shuffle, no UDF, no per-row Python. At 100 TB this
  is a map-only pass whose output is ~``m`` bytes/vector.
  (First cut unrolled all m·k distances into straight-line codegen;
  that compiled a multi-thousand-line Janino method and OOM'd a 1 GiB
  default driver — the lambda form keeps the plan O(1) in m·k and the
  codebook a single array literal. Interpreted HOF eval costs ~2× per
  element but the plan builds in milliseconds and runs anywhere.)
- **ADC search** joins the (queries × m × k, broadcast) lookup table to
  the code relation on ``(subspace, code)`` and sums ``m`` table hits
  per (query, vector) — one partial-aggregated shuffle carrying a
  single integer per pair, never the vectors themselves.

Determinism contract (what lets DuckDB reproduce the result bit-for-
bit): codebooks are a fixed rule over the corpus (sub-vectors of the
first ``k`` ids — :func:`kmeans_fit` per sub-space slots in when oracle
parity isn't needed); every distance is a left-associated fold over the
sub-dimensions quantized to integer micro-units BEFORE any argmin/sum,
so downstream comparisons are exact integer math; argmin ties break on
the lowest code id (``array_position`` returns the FIRST index of the
min).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.operators.similarity import (
    _assign,
    _centroids,
    _probe,
    _resolve_stride,
    _top_k,
    _vectors,
)


def collect_codebook(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    dims: int = 64,
) -> list[list[list[float]]]:
    """Deterministic codebook: sub-vectors of the ``k`` lowest-id corpus
    vectors. ``codebook[j][c]`` is the ``dims//m``-wide centroid for
    code ``c`` of sub-space ``j``. The collect is O(k·dims) scalars, the
    same bounded collect as :func:`similarity.kmeans_fit`'s centroid
    sums."""
    dsub = dims // m
    rows = (
        _vectors(corpus, id_col, vec_col, norm_as=None)
        .filter(F.col("_id") < k)
        .orderBy("_id")
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"corpus has fewer than k={k} vectors with id < k")
    return [
        [list(r["_v"][j * dsub : (j + 1) * dsub]) for r in rows]
        for j in range(m)
    ]


def _cb_literal(codebook: list[list[list[float]]]) -> str:
    """The codebook as one SQL array literal (``repr`` round-trips
    doubles exactly; the ``D`` suffix pins DOUBLE, not DECIMAL).
    Catalyst constant-folds the CreateArray tree to a single Literal,
    so codegen sees one constant, not m·k·dsub leaf expressions."""
    return (
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "array(" + ", ".join(f"{x!r}D" for x in cent) + ")"
                for cent in sub
            )
            + ")"
            for sub in codebook
        )
        + ")"
    )


def _dmat(vec: str, codebook: list[list[list[float]]]) -> Column:
    """``array<array<bigint>>`` of micro-quantized squared-L2 distances:
    ``dmat[j][c]`` = ``floor(‖vec_sub_j − codebook[j][c]‖² · 10⁶ + ½)``.
    The inner fold is ``aggregate(zip_with(...))`` — left-associated,
    the same element order as DuckDB's ``list_sum(list_transform(...))``
    twin, which is the cross-engine contract."""
    m = len(codebook)
    dsub = len(codebook[0][0])
    cb = _cb_literal(codebook)
    return F.expr(
        f"""
        transform(sequence(0, {m - 1}), j ->
          transform(element_at({cb}, j + 1), cent ->
            CAST(floor(aggregate(
              zip_with(slice(`{vec}`, j * {dsub} + 1, {dsub}), cent,
                       (x, y) -> (x - y) * (x - y)),
              0.0D, (acc, t) -> acc + t) * 1e6 + 0.5) AS BIGINT)))
        """
    )


def pq_encode(
    corpus: DataFrame,
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``m`` codes — returns ``(vec_id, subspace,
    code)``, one row per sub-space (unnested for joinability; pack with
    ``collect_list`` if a code column is wanted). Entirely map-side:
    per sub-space the argmin over the distance row is
    ``array_position(min)`` (first index ⇒ lowest code wins ties)."""
    v = _vectors(corpus, id_col, vec_col, "vec_id", norm_as=None).withColumn(
        "_dmat", _dmat("_v", codebook)
    )
    return v.select(
        "vec_id", F.posexplode("_dmat").alias("subspace", "_dd")
    ).select(
        "vec_id",
        F.col("subspace").cast("long").alias("subspace"),
        (F.array_position(F.col("_dd"), F.array_min("_dd")) - 1)
        .cast("long")
        .alias("code"),
    )


def _adc_lut(q: DataFrame, codebook: list[list[list[float]]]) -> DataFrame:
    """The broadcast ADC lookup table of a ``(query_id, _q, ...)``
    projection: ``(query_id, subspace, code, dmicro)``, queries × m × k
    rows, ``dmicro`` the micro-quantized distance from the query's
    sub-vector to that code's centroid (:func:`_dmat`)."""
    return F.broadcast(
        q.withColumn("_dmat", _dmat("_q", codebook))
        .select("query_id", F.posexplode("_dmat").alias("subspace", "_dd"))
        .select(
            "query_id",
            F.col("subspace").cast("long").alias("subspace"),
            F.posexplode("_dd").alias("code", "dmicro"),
        )
        .select(
            "query_id",
            "subspace",
            F.col("code").cast("long").alias("code"),
            "dmicro",
        )
    )


def _adc_top_k(scored: DataFrame, topk: int, exclude_self: bool) -> DataFrame:
    """Sum the ``m`` LUT hits per (query, vector) of a code ⋈ LUT
    relation and keep each query's *topk* smallest ``adc_micro``."""
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("vec_id"))
    adc = scored.groupBy(
        "query_id", F.col("vec_id").alias("neighbor_id")
    ).agg(F.sum("dmicro").cast("long").alias("adc_micro"))
    return _top_k(
        adc,
        topk,
        F.col("adc_micro").asc(),
        ("query_id", "neighbor_id", "adc_micro", "rank"),
        long_rank=True,
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    topk: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Asymmetric-distance top-k: exact query sub-vector → quantized
    corpus. Cross-relation callers with independent id spaces must
    pass ``exclude_self=False`` (same contract as
    ``similarity.cosine_topk``). Returns ``(query_id, neighbor_id,
    adc_micro, rank)`` where
    ``adc_micro`` is the ADC squared-L2 distance in integer micro-units
    (sum of m per-sub-space distances, each pre-quantized — exact, so
    cross-engine and partition-order independent).

    Plan shape: the LUT is queries × m × k rows (tiny — broadcast); the
    code relation streams through the join and the (query, vector) sum
    partial-aggregates map-side. The corpus vectors are never touched
    after encoding — that is the point of PQ. The corpus encodes
    through :func:`pq_encode_arrow` (~20× the throughput of the
    bit-identical Catalyst :func:`pq_encode`)."""
    codes = pq_encode_arrow(corpus, codebook, id_col, vec_col)
    q = _vectors(queries, id_col, vec_col, "query_id", "_q", norm_as=None)
    scored = codes.join(_adc_lut(q, codebook), on=["subspace", "code"])
    return _adc_top_k(scored, topk, exclude_self)


def pq_encode_arrow(
    corpus: DataFrame,
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched encode — bit-identical to :func:`pq_encode` but
    ~20× the throughput: the Catalyst HOF path evaluates m·k
    interpreted folds per row (~0.5 ms/vector single-threaded); here
    each Arrow batch runs the same arithmetic as vectorized numpy.

    Exactness is engineered, not hoped for: the distance accumulates
    with an explicit per-dimension loop (``acc = acc + diff²``) — the
    SAME left-associated float64 fold order as the Catalyst lambda and
    the DuckDB ``list_sum`` twin (numpy's ``.sum()`` would use pairwise
    summation and drift in the last ulp) — then micro-quantizes before
    ``argmin`` (first-min ⇒ lowest code, matching ``array_position``).
    The agreement test in tests/test_training_ops.py pins
    Catalyst ≡ Arrow on every vector.

    The closure is self-contained (imports inside, codebook captured as
    plain lists) so workers never import this package."""
    m = len(codebook)
    k = len(codebook[0])
    dsub = len(codebook[0][0])
    cb = [[list(c) for c in sub] for sub in codebook]

    def encode(batches):
        import numpy as np
        import pandas as pd

        C = np.array(cb, dtype="float64")  # (m, k, dsub)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            M = np.stack(pdf["_v"].to_numpy()).astype("float64")
            n = M.shape[0]
            codes = np.empty((n, m), dtype="int64")
            for j in range(m):
                sub = M[:, j * dsub : (j + 1) * dsub]
                acc = np.zeros((n, k), dtype="float64")
                for i in range(dsub):
                    diff = sub[:, i : i + 1] - C[j][:, i][None, :]
                    acc = acc + diff * diff
                dm = np.floor(acc * 1e6 + 0.5).astype("int64")
                codes[:, j] = dm.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, m),
                    "subspace": np.tile(np.arange(m, dtype="int64"), n),
                    "code": codes.reshape(-1),
                }
            )

    return _vectors(corpus, id_col, vec_col, "vec_id", norm_as=None).mapInPandas(
        encode, "vec_id long, subspace long, code long"
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    topk: int = 5,
    centroid_stride: int | None = None,
    nprobe: int = 2,
    sim_decimals: int = 6,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-PQ: the full billion-scale ANN index architecture (Jégou et
    al., TPAMI'11 §V) — coarse quantizer partitions the corpus into
    inverted lists, product quantization compresses the residents, and
    a query scans only its ``nprobe`` nearest lists with ADC lookup
    tables. Composition of :func:`~.similarity.ivf_topk`'s routing
    with :func:`pq_adc_topk`'s scoring:

    - *assignment* (corpus → list) is a map-side ``max_by`` over the
      broadcast centroid set — one row per vector on the wire, no
      window sort;
    - *codes* come from the Arrow encode path (bit-identical to the
      Catalyst path, agreement-tested);
    - *search* joins the slim ``(vec_id, cid, subspace, code)``
      relation to the broadcast probe set on ``cid`` and the broadcast
      LUT on ``(query_id, subspace, code)``, then partial-aggregates
      the ``m`` integer micro-distances per (query, vector).

    At scale the code relation would be written out bucketed by
    ``cid`` once and reused across every query batch; all per-query
    state (probes, LUT) is broadcast-sized. Distances are integer
    micro-units end-to-end, so ranking is exact and engine-portable.
    """
    # None → √N-balanced coarse quantizer (see similarity.balanced_stride)
    centroid_stride = _resolve_stride(centroid_stride, corpus)
    c = _vectors(corpus, id_col, vec_col)
    cents = F.broadcast(_centroids(c, F.col("_id") % centroid_stride == 0))
    # rank-1 list assignment; only cid rides the max_by buffer
    assign = _assign(c, cents, sim_decimals, vectors=False).withColumnRenamed(
        "_id", "vec_id"
    )
    q = _vectors(queries, id_col, vec_col, "query_id", "_q", "_qn")
    probes = F.broadcast(
        _probe(q, cents, "_q", "_qn", nprobe, sim_decimals).select("query_id", "cid")
    )
    codes = pq_encode_arrow(corpus, codebook, id_col, vec_col)
    cand = codes.join(assign, on="vec_id").join(probes, on="cid")
    adc = cand.join(_adc_lut(q, codebook), on=["query_id", "subspace", "code"])
    return _adc_top_k(adc, topk, exclude_self)
