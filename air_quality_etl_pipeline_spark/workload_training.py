"""Training-data engine extensions (round 3): semantic dedup
(SemDeDup), product quantization (encode + ADC search), a bigram LM
scorer, a Count-Min heavy-hitter sketch with an accuracy contract, the
covariance/Gram building block for PCA whitening, and a distributed
BPE merge trainer.

Same registry contract as every other workload module: each query is a
``(spark_fn, duckdb_oracle)`` pair; money/float math quantizes to
integer micro-units or DECIMAL before any order-sensitive reduction so
both engines see identical cells. The BPE trainer is iterative
(argmax → rewrite per round) but each round is deterministic
relational algebra, so its oracle unrolls the fixed round count as a
chained CTE (round 5; same technique as the pagerank oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.functions.core import (
    md5_long,
    round_portable,
    sql_round,
    token_array,
)
from air_quality_etl_pipeline_spark.functions.portable_math import (
    ln_ratio_portable,
    mean_round6_micro,
    quantize_micro9,
    sql_ln_ratio,
    sql_mean_round6,
    sql_quantize_micro9,
)
from air_quality_etl_pipeline_spark.operators.graph import pagerank_pico
from air_quality_etl_pipeline_spark.operators.order_stats import (
    hex_prefix_key,
    with_global_rank,
)
from air_quality_etl_pipeline_spark.operators.pca import (
    moment_sums_micro,
    pca_components,
    project,
    projection_expr,
)
from air_quality_etl_pipeline_spark.operators.pq import (
    collect_codebook,
    ivf_pq_topk,
    pq_adc_topk,
    pq_encode_arrow,
)
from air_quality_etl_pipeline_spark.operators.similarity import (
    _as_double,
    bitext_doc_align,
    bitext_margin_mine,
    cosine_topk,
    ivf_topk,
    semantic_dedup,
)
from air_quality_etl_pipeline_spark.operators.text import (
    bpe_encode_vocab,
    learn_bpe_merges,
    quality_classifier_score,
    quality_classifier_weights,
)
from air_quality_etl_pipeline_spark.oracle_fragments import (
    LTOKS,
    QC_B,
    QC_BUCKET,
    QC_GRAMS,
    QC_SCORE_ORACLE,
    TOKS,
    _ivf_oracle,
    qc_qln,
)
from air_quality_etl_pipeline_spark.workload import _t, register

#: DuckDB twins of the cosine / norm folds used by operators.similarity
#: (same element order ⇒ same doubles; see workload_llm._COS).
_NORM = "sqrt(list_sum(list_transform({v}, x -> x * x)))"
_DOT64 = "list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i]))"


def _cos6(a: str, b: str) -> str:
    dot = _DOT64.format(a=a, b=b)
    na = _NORM.format(v=a)
    nb = _NORM.format(v=b)
    return f"floor(({dot}) / ({na} * {nb}) * 1000000.0 + 0.5) / 1000000.0"


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------

@register(
    "semantic_dedup",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
    s AS (SELECT e.vec_id, e.v, c.cid, {_cos6('e.v', 'c.cv')} AS cos
          FROM e, c),
    a AS (SELECT vec_id, v, cid, row_number() OVER (
            PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rk
          FROM s),
    m AS (SELECT vec_id, v, cid AS cluster FROM a WHERE rk = 1),
    p AS (SELECT x.vec_id,
                 CAST(count(*) AS BIGINT) AS n_dup_neighbors,
                 max({_cos6('x.v', 'y.v')}) AS max_dup_cosine
          FROM m x JOIN m y
            ON x.cluster = y.cluster AND y.vec_id < x.vec_id
          WHERE {_cos6('x.v', 'y.v')} >= 0.35
          GROUP BY 1)
    SELECT m.vec_id, CAST(m.cluster AS BIGINT) AS cluster,
           CASE WHEN p.vec_id IS NULL THEN 'keep' ELSE 'drop' END AS status,
           COALESCE(p.n_dup_neighbors, 0) AS n_dup_neighbors,
           p.max_dup_cosine
    FROM m LEFT JOIN p ON m.vec_id = p.vec_id
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: coarse-cluster (8
    deterministic centroids), then drop vectors with a ≥0.35-cosine
    earlier neighbor in the same cluster. See
    operators.similarity.semantic_dedup for the plan-shape contract
    (broadcast centroids, map-side rank-1 assignment, cluster-bounded
    self-join)."""
    e = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(e, num_clusters=8, threshold=0.35)


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------

#: DuckDB codebook CTE: sub-vectors of the 16 lowest-id embeddings,
#: one row per (subspace j ∈ 0..7, code ∈ 0..15).
_PQ_CB = """
    cb AS (SELECT vec_id AS code, j.j AS j,
                  v[j.j * 8 + 1 : j.j * 8 + 8] AS cv
           FROM e, (SELECT unnest(range(0, 8)) AS j) j
           WHERE vec_id < 16)
"""

#: micro-quantized squared L2 between sub-vector j of a full vector
#: column and a codebook row (same element order as operators.pq).
_PQ_D2 = (
    "CAST(floor(list_sum(list_transform(range(1, 9), "
    "i -> ({v}[cb.j * 8 + i] - cb.cv[i]) * ({v}[cb.j * 8 + i] - cb.cv[i])))"
    " * 1e6 + 0.5) AS BIGINT)"
)


@register(
    "pq_codes",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    {_PQ_CB},
    d AS (SELECT e.vec_id, cb.j, cb.code,
                 {_PQ_D2.format(v='e.v')} AS dmicro
          FROM e, cb),
    r AS (SELECT vec_id, j, code, row_number() OVER (
            PARTITION BY vec_id, j ORDER BY dmicro ASC, code ASC) AS rk
          FROM d)
    SELECT vec_id, CAST(j AS BIGINT) AS subspace, CAST(code AS BIGINT) AS code
    FROM r WHERE rk = 1
    """,
)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding of the embeddings table: 8 sub-spaces × 16 codes
    (codebook = the 16 lowest-id vectors — deterministic; kmeans_fit
    per sub-space is the production upgrade). Encode is map-only; the
    Arrow/numpy path is bit-identical to the Catalyst HOF path
    (agreement-tested) at ~20× the throughput. See operators/pq.py."""
    e = _t(spark, sf_dir, "embeddings")
    cb = collect_codebook(e, m=8, k=16, dims=64)
    return pq_encode_arrow(e, cb)


@register(
    "pq_adc_search",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    {_PQ_CB},
    d AS (SELECT e.vec_id, cb.j, cb.code,
                 {_PQ_D2.format(v='e.v')} AS dmicro
          FROM e, cb),
    codes AS (SELECT vec_id, j, code FROM (
        SELECT vec_id, j, code, row_number() OVER (
          PARTITION BY vec_id, j ORDER BY dmicro ASC, code ASC) AS rk
        FROM d) WHERE rk = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 4),
    lut AS (SELECT q.query_id, cb.j, cb.code,
                   {_PQ_D2.format(v='q.qv')} AS dmicro
            FROM q, cb),
    s AS (SELECT l.query_id, c.vec_id AS neighbor_id,
                 CAST(sum(l.dmicro) AS BIGINT) AS adc_micro
          FROM codes c JOIN lut l ON c.j = l.j AND c.code = l.code
          WHERE l.query_id <> c.vec_id
          GROUP BY 1, 2)
    SELECT query_id, neighbor_id, adc_micro, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY adc_micro ASC, neighbor_id ASC) AS rank FROM s)
    WHERE rank <= 5
    """,
)
def q_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-5 for 4 query vectors over the PQ-compressed corpus:
    broadcast lookup tables, integer micro-unit distance sums (exact ⇒
    order-independent), corpus vectors untouched after encoding."""
    e = _t(spark, sf_dir, "embeddings")
    cb = collect_codebook(e, m=8, k=16, dims=64)
    return pq_adc_topk(e, e.filter(F.col("vec_id") < 4), cb, topk=5)


# ---------------------------------------------------------------------------
# Bigram language-model scoring
# ---------------------------------------------------------------------------

@register(
    "bigram_logprob_score",
    f"""
    WITH t AS (SELECT doc_id, {LTOKS} AS toks FROM documents),
    bg AS (SELECT doc_id, unnest(list_transform(
             range(1, greatest(len(toks) - 1, 0) + 1),
             i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS b
           FROM t),
    flat AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
    c12 AS (SELECT w1, w2, count(*) AS n12 FROM flat GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS n1 FROM flat GROUP BY 1),
    lp12 AS (
      SELECT c12.w1, c12.w2,
             {sql_quantize_micro9(sql_ln_ratio("c12.n12", "c1.n1"))} AS lpm
      FROM c12 JOIN c1 ON c12.w1 = c1.w1),
    scored AS (
      SELECT f.doc_id, l.lpm
      FROM flat f
      JOIN lp12 l ON f.w1 = l.w1 AND f.w2 = l.w2)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           {sql_mean_round6("sum(lpm)", "count(*)")} AS avg_logprob
    FROM scored GROUP BY 1
    """,
)
def q_bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram LM score: mean ln p(w2|w1) under the
    corpus's own bigram MLE — the next perplexity proxy up from
    unigram_logprob_score (catches scrambled/boilerplate text that has
    normal unigram stats). The bigram- and unigram-count relations are
    vocabulary-sized aggregations joined back onto the token stream;
    per-token terms quantize to DECIMAL(18,9) so the doc sum is
    order-independent."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.transform(
            token_array(F.col("text")), lambda x: F.lower(x)
        ).alias("toks"),
    )
    flat = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size("toks") - 1, F.lit(0))),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i).alias("w1"),
                    F.element_at(F.col("toks"), i + 1).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    # aggregate the token stream ONCE to per-doc bigram counts (the
    # explode never re-runs and nothing corpus-sized is joined);
    # derive both count relations from it: n12 by re-aggregation,
    # n1 as the w2-marginal of n12 (vocab²-sized input, not corpus).
    # Each doc-bigram's quantized lp is weighted by its count —
    # DECIMAL × integer is exact, so the sum equals the per-occurrence
    # sum the oracle computes. Measured at sf0.1: 0.76 s → ~0.3 s.
    db = flat.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("cnt"))
    c12 = db.groupBy("w1", "w2").agg(F.sum("cnt").alias("n12"))
    c1 = c12.groupBy("w1").agg(F.sum("n12").alias("n1"))
    # lp per DISTINCT pair via the bit-portable ln (Spark's Math.log
    # and DuckDB's libm log differ by 1 ulp on some ratios, which
    # flipped DECIMAL(18,9) cells at sf0.1 — see functions/
    # portable_math.py); the vocab²-sized lp relation then joins back
    # onto the per-doc counts, so the series evaluates once per pair.
    lp12 = c12.join(c1, on="w1").select(
        "w1",
        "w2",
        quantize_micro9(
            ln_ratio_portable(F.col("n12"), F.col("n1"))
        ).alias("lpm"),
    )
    scored = db.join(lp12, on=["w1", "w2"]).select(
        "doc_id",
        "cnt",
        (F.col("lpm") * F.col("cnt")).alias("t"),
    )
    return scored.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_bigrams"),
        mean_round6_micro(F.sum("t"), F.sum("cnt")).alias("avg_logprob"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters
# ---------------------------------------------------------------------------

_CM_DEPTH = 4
_CM_WIDTH = 1024


@register(
    "sketch_cm_heavy_hitters",
    f"""
    WITH toks AS (SELECT unnest({LTOKS}) AS tok FROM documents),
    freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1),
    counters AS (
      SELECT d.d,
             (('0x' || substr(md5('cm' || d.d || ':' || tok), 1, 15))::BIGINT)
               % {_CM_WIDTH} AS bucket,
             CAST(sum(n) AS BIGINT) AS cnt
      FROM freq, (SELECT unnest(range(0, {_CM_DEPTH})) AS d) d
      GROUP BY 1, 2),
    top AS (SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rk
            FROM freq),
    probes AS (
      SELECT t.tok, t.n, d.d,
             (('0x' || substr(md5('cm' || d.d || ':' || t.tok), 1, 15))::BIGINT)
               % {_CM_WIDTH} AS bucket
      FROM (SELECT tok, n FROM top WHERE rk <= 20) t,
           (SELECT unnest(range(0, {_CM_DEPTH})) AS d) d),
    est AS (
      SELECT p.tok, p.n, min(c.cnt) AS estimate
      FROM probes p JOIN counters c ON c.d = p.d AND c.bucket = p.bucket
      GROUP BY 1, 2)
    SELECT tok, n AS exact_count, CAST(estimate AS BIGINT) AS cm_estimate,
           CAST(estimate - n AS BIGINT) AS overcount
    FROM est
    """,
)
def q_sketch_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan '05) accuracy check:
    build a depth-4 × width-1024 counter array from the token-frequency
    relation, then compare the sketch estimate against the exact count
    for the 20 most frequent tokens. CM guarantees estimate ≥ exact
    (``overcount`` ≥ 0) and ≤ exact + εN w.h.p. — the integer counters
    make the whole query exactly reproducible. At scale the counter
    build is ONE aggregation to d·w cells regardless of vocabulary
    size; that fixed footprint is the reason to sketch at all."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(token_array(F.col("text"))).alias("_raw")
    ).select(F.lower(F.col("_raw")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count("*").cast("long").alias("n"))
    rows = freq.select(
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dd).cast("long").alias("d"),
                        (md5_long(F.col("tok"), salt=f"cm{dd}") % _CM_WIDTH)
                        .alias("bucket"),
                    )
                    for dd in range(_CM_DEPTH)
                ]
            )
        ).alias("_h"),
    )
    counters = (
        rows.select("n", "_h.d", "_h.bucket")
        .groupBy("d", "bucket")
        .agg(F.sum("n").cast("long").alias("cnt"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    top = (
        freq.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .drop("rk")
    )
    probes = top.select(
        "tok",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dd).cast("long").alias("d"),
                        (md5_long(F.col("tok"), salt=f"cm{dd}") % _CM_WIDTH)
                        .alias("bucket"),
                    )
                    for dd in range(_CM_DEPTH)
                ]
            )
        ).alias("_h"),
    ).select("tok", "n", "_h.d", "_h.bucket")
    return (
        F.broadcast(probes)
        .join(counters, on=["d", "bucket"])
        .groupBy("tok", "n")
        .agg(F.min("cnt").cast("long").alias("cm_estimate"))
        .select(
            "tok",
            F.col("n").alias("exact_count"),
            "cm_estimate",
            (F.col("cm_estimate") - F.col("n")).cast("long").alias("overcount"),
        )
    )


# ---------------------------------------------------------------------------
# Covariance / Gram block (the PCA-whitening building block)
# ---------------------------------------------------------------------------

@register(
    "embedding_covariance",
    """
    WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pairs AS (SELECT i.i AS i, j.j AS j
              FROM (SELECT unnest(range(1, 9)) AS i) i,
                   (SELECT unnest(range(1, 9)) AS j) j
              WHERE j.j >= i.i)
    SELECT CAST(p.i AS BIGINT) AS dim_i, CAST(p.j AS BIGINT) AS dim_j,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(v[p.i] * v[p.j] * 1000000.0 + 0.5)
                    AS BIGINT)) AS BIGINT) AS sum_micro
    FROM e, pairs p
    GROUP BY 1, 2
    """,
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle Gram/covariance sums for the first 8 dimensions —
    the distributed half of PCA/whitening: the d×d second-moment matrix
    is ONE partial-aggregated pass (d²/2 running sums per partition, a
    d²/2-row exchange), after which the eigendecomposition is a driver-
    side O(d³) numpy call on a matrix that fits in L2 cache. Products
    quantize to integer micro-units so the sums are exact on both
    engines."""
    e = _t(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    cells = []
    for i in range(1, 9):
        for j in range(i, 9):
            cells.append(
                F.struct(
                    F.lit(i).cast("long").alias("dim_i"),
                    F.lit(j).cast("long").alias("dim_j"),
                    F.floor(
                        F.element_at("v", i)
                        * F.element_at("v", j)
                        * F.lit(1e6)
                        + F.lit(0.5)
                    )
                    .cast("long")
                    .alias("micro"),
                )
            )
    return (
        e.select(F.explode(F.array(*cells)).alias("_c"))
        .groupBy("_c.dim_i", "_c.dim_j")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("_c.micro").cast("long").alias("sum_micro"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge training (iterative — unrolled-CTE oracle, round 5)
# ---------------------------------------------------------------------------

def _bpe_ctes(n_merges: int = 6) -> str:
    """The shared WITH-body of the BPE oracles — the same fixed-round
    unrolling the pagerank_trade_graph oracle uses for Pregel rounds.
    Each round is two CTE hops over the (word, pos, sym, n) vocabulary
    relation:

    1. ``m{{t}}``: adjacent-pair counts weighted by word frequency,
       argmax by (count DESC, left ASC, right ASC) — identical to the
       trainer's deterministic tiebreak;
    2. ``v{{t+1}}``: the greedy left-to-right NON-OVERLAPPING rewrite
       of operators.text.apply_bpe_merge, expressed with window
       functions. Overlapping candidate positions only occur in runs
       of equal symbols (a candidate at ``i`` and ``i+1`` forces
       ``left == right``), where the greedy fold takes alternate
       positions from the run head — so ``take = cand AND (streak of
       consecutive candidates ending here) is odd``, with the streak
       length derived from the last non-candidate position (a running
       ``max`` window). Consumed right-halves (``lag(take)``) drop,
       and ``row_number`` renumbers positions for the next round.
    """
    head = f"""
    WITH w AS (
      SELECT word, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT lower(tok) AS word
            FROM (SELECT unnest({TOKS}) AS tok FROM documents))
      GROUP BY 1),
    v0 AS (
      SELECT word, n, CAST(i AS BIGINT) AS pos,
             substr(word, CAST(i AS INT), 1) AS sym
      FROM w, unnest(range(1, len(word) + 1)) AS t(i))"""
    steps = []
    for t in range(n_merges):
        steps.append(f"""
    pc{t} AS (
      SELECT l, r, CAST(sum(n) AS BIGINT) AS cnt FROM (
        SELECT v.sym AS l,
               lead(v.sym) OVER (PARTITION BY v.word ORDER BY v.pos) AS r,
               v.n
        FROM v{t} v)
      WHERE r IS NOT NULL GROUP BY l, r),
    m{t} AS (SELECT l, r, cnt FROM pc{t}
             ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
    c{t} AS (
      SELECT v.word, v.pos, v.sym, v.n, m.l AS ml, m.r AS mr,
             COALESCE(v.sym = m.l AND
               lead(v.sym) OVER (PARTITION BY v.word ORDER BY v.pos) = m.r,
               FALSE) AS cand
      FROM v{t} v LEFT JOIN m{t} m ON TRUE),
    s{t} AS (
      SELECT *, cand AND
             (pos - COALESCE(max(CASE WHEN cand THEN NULL ELSE pos END)
                OVER (PARTITION BY word ORDER BY pos
                      ROWS UNBOUNDED PRECEDING), 0)) % 2 = 1 AS take
      FROM c{t}),
    v{t + 1} AS (
      SELECT word, n,
             CAST(row_number() OVER (PARTITION BY word ORDER BY pos)
               AS BIGINT) AS pos,
             CASE WHEN take THEN ml || mr ELSE sym END AS sym
      FROM (SELECT *, COALESCE(
              lag(take) OVER (PARTITION BY word ORDER BY pos),
              FALSE) AS prev_take
            FROM s{t})
      WHERE NOT prev_take)""")
    return head + "," + ",".join(steps)


def _bpe_merges_oracle(n_merges: int = 6) -> str:
    """Unrolled-CTE oracle for the BPE trainer: the learned merge list
    is the union of the per-round argmax relations ``m{t}``."""
    tail = "\nUNION ALL\n".join(
        f'SELECT CAST({t} AS BIGINT) AS rank, l AS "left", '
        f'r AS "right", cnt AS pair_count FROM m{t}'
        for t in range(n_merges)
    )
    return (
        _bpe_ctes(n_merges)
        + f"\nSELECT * FROM (\n{tail}\n) ORDER BY rank"
    )


def _bpe_encode_oracle(n_merges: int = 6) -> str:
    """Unrolled-CTE oracle for tokenizer APPLICATION (round-10 verdict
    #7, closing the registry's last rows-only gap): the trainer's own
    round-``t`` rewrite relation ``v{t}`` IS the vocabulary encoded
    with the first ``t`` merges — so the final ``v{n}`` needs no new
    machinery, just per-word symbol counts joined back onto the corpus
    token stream, mirroring q_bpe_encode_corpus's vocabulary-cache
    shape exactly."""

    return (
        _bpe_ctes(n_merges)
        + f""",
    enc AS (SELECT word, CAST(len(word) AS BIGINT) AS char_len,
                   CAST(count(*) AS BIGINT) AS tok_len
            FROM v{n_merges} GROUP BY word),
    stream AS (SELECT doc_id, lower(tok) AS word
               FROM (SELECT doc_id, unnest({TOKS}) AS tok
                     FROM documents)),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(char_len) AS BIGINT) AS n_chars,
                   CAST(sum(tok_len) AS BIGINT) AS n_tokens
            FROM stream JOIN enc USING (word) GROUP BY 1)
    SELECT doc_id, n_words, n_chars, n_tokens,
           {sql_round("CAST(n_tokens AS DOUBLE) / n_chars", 6)}
             AS compression
    FROM agg"""
    )


@register("bpe_learn_merges", _bpe_merges_oracle(6))
def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE trainer: 6 merge rounds over the word-frequency
    relation (Sennrich ACL'16). The argmax→rewrite loop is iterative on
    the Spark side but every round is deterministic relational algebra,
    so the oracle unrolls the 6 rounds as a chained CTE
    (:func:`_bpe_merges_oracle`); exactness vs a pure-Python reference
    is additionally pinned in tests/test_training_ops.py. See
    operators.text.learn_bpe_merges for the scale contract (corpus
    collapses once; every round is vocabulary-local)."""

    d = _t(spark, sf_dir, "documents")
    merges = learn_bpe_merges(d, n_merges=6)
    return spark.createDataFrame(
        merges, "rank long, left string, right string, pair_count long"
    )


# ---------------------------------------------------------------------------
# PageRank (integer pico-units — exact cross-engine, unrolled oracle)
# ---------------------------------------------------------------------------

def _pagerank_oracle(iterations: int = 3) -> str:
    head = """
    WITH edges AS (
      SELECT DISTINCT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY 1),
    r0 AS (SELECT id, CAST(1000000000000 AS BIGINT) // nn.n AS pico
           FROM nodes, nn)"""
    steps = []
    for t in range(1, iterations + 1):
        steps.append(f"""
    c{t} AS (SELECT e.dst AS id,
                    CAST(sum(r.pico // d.outdeg) AS BIGINT) AS s
             FROM edges e
             JOIN r{t - 1} r ON e.src = r.id
             JOIN deg d ON e.src = d.src
             GROUP BY 1),
    r{t} AS (SELECT nd.id,
                    (CAST(15 AS BIGINT) * 10000000000) // nn.n
                      + (CAST(85 AS BIGINT) * COALESCE(c{t}.s, 0)) // 100
                      AS pico
             FROM nodes nd LEFT JOIN c{t} ON nd.id = c{t}.id, nn)""")
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
    SELECT id AS node, CAST(pico AS BIGINT) AS rank_pico FROM r{iterations}
    """
    )


@register("pagerank_trade_graph", _pagerank_oracle(3))
def q_pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer→supplier trade graph (3 rounds,
    d=0.85): the Pregel iteration as relational algebra — see
    operators.graph.pagerank_pico for the integer pico-unit arithmetic
    that makes an ITERATIVE float algorithm exactly reproducible by an
    unrolled SQL oracle (every step is BIGINT floor-division)."""

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
    )
    return pagerank_pico(edges, iterations=3, damping_pct=85)


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@k of the IVF index vs exact search
# ---------------------------------------------------------------------------

def _recall_oracle() -> str:
    ivf_body = _ivf_oracle(stride=128, nprobe=2, k=5).strip()
    # reuse the registered IVF oracle verbatim as a subquery; the exact
    # side re-derives brute-force top-5 with the same cosine fragment
    return f"""
    WITH e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 floor((list_sum(list_transform(range(1, 65),
                        i -> q.v[i] * e2.v[i]))
                   / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(e2.v, x -> x * x)))))
                   * 1000000.0 + 0.5) / 1000000.0 DESC,
                 e2.vec_id ASC) AS rank
        FROM (SELECT vec_id, v FROM e2 WHERE vec_id < 8) q, e2
        WHERE e2.vec_id <> q.vec_id)
      WHERE rank <= 5),
    approx AS ({ivf_body}),
    hits AS (
      SELECT x.query_id, CAST(count(*) AS BIGINT) AS hits
      FROM exact x JOIN approx a
        ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
      GROUP BY 1)
    SELECT q.query_id, COALESCE(h.hits, 0) AS hits,
           CAST(COALESCE(h.hits, 0) AS DOUBLE) / 5 AS recall
    FROM (SELECT DISTINCT query_id FROM exact) q
    LEFT JOIN hits h ON q.query_id = h.query_id
    """


@register("ann_recall_at_k", _recall_oracle())
def q_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation: recall@5 of the IVF index (stride 128,
    nprobe 2) against exact brute-force cosine, per query — the metric
    an ANN deployment tunes nprobe against. Both sides are the already-
    registered operators; the eval is one equi join + count."""

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    exact = cosine_topk(e, q, k=5).select("query_id", "neighbor_id")
    approx = ivf_topk(e, q, k=5, centroid_stride=128, nprobe=2).select(
        "query_id", "neighbor_id"
    )
    hits = (
        exact.join(approx, on=["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("hits"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, on="query_id", how="left")
        .select(
            "query_id",
            F.coalesce(F.col("hits"), F.lit(0).cast("long")).alias("hits"),
            (
                F.coalesce(F.col("hits"), F.lit(0).cast("long")).cast(
                    "double"
                )
                / 5
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# PCA projection (driver-side eigh — invariant-contract oracle, round 5)
# ---------------------------------------------------------------------------

def _pca_invariants_oracle() -> str:
    """Oracle for the PCA query's invariant contract. DuckDB owns no
    eigensolver, but it CAN exactly reproduce the per-dimension
    variances (the covariance diagonal) from the same integer
    micro-unit moments the Spark side collects — 64 data-derived rows
    plus their trace — and the spectral contracts the eigensystem must
    satisfy (descending eigenvalues, orthonormal basis, empirical
    projected variance per component == its eigenvalue, projected
    cross-covariances == 0, total projected variance == trace) are
    engine-independent truths, so the oracle asserts them as literal
    passes the way the sketch-accuracy-contract oracles do. Observed
    deviations at sf0.001/sf0.01: ≤ 4.1e-8 per-pc, ≤ 3.2 micro on the
    trace sum — tolerances (1e-5 / 1000 micro) carry ≥ 300× margin."""
    return """
    WITH m AS (
      SELECT t.i AS i,
             CAST(sum(CAST(floor(v[t.i] * v[t.i] * 1000000.0 + 0.5)
                           AS BIGINT)) AS BIGINT) AS g,
             CAST(sum(CAST(floor(v[t.i] * 1000000.0 + 0.5)
                           AS BIGINT)) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           unnest(range(1, 65)) AS t(i)
      GROUP BY 1),
    vars AS (
      SELECT 'var_dim_' || lpad(CAST(i AS VARCHAR), 2, '0') AS metric,
             CAST(floor(g / n - (s / n) * (s / n) / 1000000.0 + 0.5)
               AS BIGINT) AS value
      FROM m)
    SELECT metric, value FROM vars
    UNION ALL
    SELECT 'trace_micro', CAST(sum(value) AS BIGINT) FROM vars
    UNION ALL SELECT 'eigs_descending', CAST(1 AS BIGINT)
    UNION ALL SELECT 'components_orthonormal', CAST(1 AS BIGINT)
    UNION ALL SELECT 'proj_var_matches_eigs', CAST(1 AS BIGINT)
    UNION ALL SELECT 'crosscov_top4_zero', CAST(1 AS BIGINT)
    UNION ALL SELECT 'proj_var_sum_eq_trace', CAST(1 AS BIGINT)
    """


@register("pca_project", _pca_invariants_oracle())
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA of the embeddings with an oracle-checkable contract: exact
    integer-quantized moment pass (one Arrow/BLAS scan) → driver-side
    eigh on the 64×64 covariance → the full 64-component projection
    (:func:`~.operators.pca.project`, constant-folded literal) feeding
    DISTRIBUTED invariant checks. Output is one ``(metric, value)``
    row per invariant:

    - ``var_dim_01..64`` / ``trace_micro`` — the covariance diagonal
      in micro-units, recomputed independently by the oracle from the
      raw parquet (the data-derived half of the contract);
    - ``eigs_descending`` / ``components_orthonormal`` — driver-side
      spectral checks on the eigensystem;
    - ``proj_var_matches_eigs`` — empirical variance of each of the 64
      projections equals its eigenvalue (within 1e-5): one groupBy over
      the projected relation;
    - ``crosscov_top4_zero`` — the 6 pairwise covariances of the top-4
      projections vanish (within 1e-5): one map-side wide projection +
      aggregate;
    - ``proj_var_sum_eq_trace`` — total projected variance equals the
      covariance trace (within 1000 micro): variance conservation.

    The eigensolve stays a driver-side O(d³) numpy call (genuinely
    non-relational), but every claim it makes is now verified either
    by the oracle's independent arithmetic or by a distributed pass
    over its own output — replacing the round-4 rows-only check
    (round-4 verdict, Next round #2b). Exact projection values are
    additionally pinned in tests/test_training_ops.py."""
    import math

    e = _t(spark, sf_dir, "embeddings")
    g, s, n = moment_sums_micro(e, dims=64)
    comps, eigs = pca_components(e, dims=64, q=64, moments=(g, s, n))

    import numpy as np

    c_mat = np.array(comps, dtype="float64")
    orthonormal = bool(
        np.max(np.abs(c_mat @ c_mat.T - np.eye(64))) < 1e-9
    )
    descending = all(
        eigs[i] >= eigs[i + 1] - 1e-12 for i in range(63)
    )
    # the same double sequence as the oracle: BIGINT→double divisions
    # (all moments < 2^53, so int→double conversion is exact on both
    # engines), then one subtract / one multiply / floor(+0.5)
    var_micro = [
        math.floor(g[d][d] / n - (s[d] / n) * (s[d] / n) / 1e6 + 0.5)
        for d in range(64)
    ]
    trace = sum(var_micro)
    local = [
        (f"var_dim_{d + 1:02d}", int(var_micro[d])) for d in range(64)
    ] + [
        ("trace_micro", int(trace)),
        ("eigs_descending", int(descending)),
        ("components_orthonormal", int(orthonormal)),
    ]
    local_df = spark.createDataFrame(local, "metric string, value long")

    # distributed check 1: per-component projected variance == eigenvalue
    proj = project(e, comps)
    eig_arr = F.array(*[F.lit(float(x)) for x in eigs])
    stats = (
        proj.groupBy("pc")
        .agg(
            F.avg("value").alias("mu"),
            F.avg(F.col("value") * F.col("value")).alias("m2"),
        )
        .select(
            "pc", (F.col("m2") - F.col("mu") * F.col("mu")).alias("var")
        )
    )
    per_pc = stats.select(
        (
            F.abs(
                F.col("var")
                - F.element_at(eig_arr, F.col("pc").cast("int") + 1)
            )
            < F.lit(1e-5)
        )
        .cast("int")
        .alias("ok"),
        "var",
    )
    match_and_trace = per_pc.agg(
        F.min("ok").alias("all_match"),
        F.sum("var").alias("total_var"),
    )
    match_row = match_and_trace.select(
        F.lit("proj_var_matches_eigs").alias("metric"),
        F.col("all_match").cast("long").alias("value"),
    )
    conserve_row = match_and_trace.select(
        F.lit("proj_var_sum_eq_trace").alias("metric"),
        (
            F.abs(F.col("total_var") * F.lit(1e6) - F.lit(float(trace)))
            < F.lit(1000.0)
        )
        .cast("long")
        .alias("value"),
    )

    # distributed check 2: top-4 projections are pairwise uncorrelated
    wide = e.select(_as_double(F.col("embedding")).alias("_v")).select(
        projection_expr(comps[:4]).alias("_p")
    )
    aggs = []
    for i in range(4):
        aggs.append(F.avg(F.element_at("_p", i + 1)).alias(f"mu{i}"))
    for i in range(4):
        for j in range(i + 1, 4):
            aggs.append(
                F.avg(
                    F.element_at("_p", i + 1) * F.element_at("_p", j + 1)
                ).alias(f"m{i}{j}")
            )
    cc_ok = F.greatest(
        *[
            F.abs(
                F.col(f"m{i}{j}") - F.col(f"mu{i}") * F.col(f"mu{j}")
            )
            for i in range(4)
            for j in range(i + 1, 4)
        ]
    ) < F.lit(1e-5)
    crosscov_row = (
        wide.agg(*aggs)
        .select(
            F.lit("crosscov_top4_zero").alias("metric"),
            cc_ok.cast("long").alias("value"),
        )
    )

    return (
        local_df.unionByName(match_row)
        .unionByName(crosscov_row)
        .unionByName(conserve_row)
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse routing + ADC scoring — the full billion-scale index
# ---------------------------------------------------------------------------

#: assignment cosine — the SAME rounded fragment as the ann_ivf_topk
#: oracle (oracle_fragments._ivf_oracle), so routing decisions agree.
_IVF_COS = (
    "floor((list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i])) / "
    "(sqrt(list_sum(list_transform({a}, x -> x * x))) * "
    "sqrt(list_sum(list_transform({b}, x -> x * x))))) * 1000000.0 + 0.5) "
    "/ 1000000.0"
)


@register(
    "ivf_pq_search",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 128 = 0),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_IVF_COS.format(a='e.v', b='c.cv')} DESC,
                          c.cid ASC) AS rn
        FROM e, cent c) WHERE rn = 1),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT q.vec_id AS query_id, c.cid,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_IVF_COS.format(a='q.v', b='c.cv')} DESC,
                          c.cid ASC) AS rn
        FROM e q, cent c WHERE q.vec_id < 4) WHERE rn <= 2),
    {_PQ_CB},
    d AS (SELECT e.vec_id, cb.j, cb.code,
                 {_PQ_D2.format(v='e.v')} AS dmicro
          FROM e, cb),
    codes AS (SELECT vec_id, j, code FROM (
        SELECT vec_id, j, code, row_number() OVER (
          PARTITION BY vec_id, j ORDER BY dmicro ASC, code ASC) AS rk
        FROM d) WHERE rk = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 4),
    lut AS (SELECT q.query_id, cb.j, cb.code,
                   {_PQ_D2.format(v='q.qv')} AS dmicro
            FROM q, cb),
    s AS (SELECT p.query_id, a.vec_id AS neighbor_id,
                 CAST(sum(l.dmicro) AS BIGINT) AS adc_micro
          FROM probes p
          JOIN assign a ON a.cid = p.cid
          JOIN codes c ON c.vec_id = a.vec_id
          JOIN lut l ON l.query_id = p.query_id
                    AND l.j = c.j AND l.code = c.code
          WHERE a.vec_id <> p.query_id
          GROUP BY 1, 2)
    SELECT query_id, neighbor_id, adc_micro, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY adc_micro ASC, neighbor_id ASC) AS rank FROM s)
    WHERE rank <= 5
    """,
)
def q_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ADC top-5 for 4 queries: coarse centroids route each
    query to its 2 nearest inverted lists; only residents of those
    lists are scored, and scoring reads the PQ codes (integer ADC),
    never the raw vectors. The composition that serves billion-vector
    corpora: routing cuts the scan by nprobe/num_lists, PQ cuts the
    bytes per scanned vector to ``m`` codes. See
    operators/pq.py:ivf_pq_topk for the plan-shape contract."""

    e = _t(spark, sf_dir, "embeddings")
    cb = collect_codebook(e, m=8, k=16, dims=64)
    return ivf_pq_topk(
        e,
        e.filter(F.col("vec_id") < 4),
        cb,
        topk=5,
        centroid_stride=128,
        nprobe=2,
    )


# ---------------------------------------------------------------------------
# Trigram stupid-backoff scoring on a held-out split
# ---------------------------------------------------------------------------

@register(
    "trigram_backoff_score",
    f"""
    WITH tok AS (SELECT doc_id, {LTOKS} AS toks FROM documents),
    tr AS (SELECT doc_id, toks FROM tok WHERE doc_id % 2 = 0),
    te AS (SELECT doc_id, toks FROM tok
           WHERE doc_id % 2 = 1 AND len(toks) >= 3),
    trtok AS (SELECT unnest(toks) AS w FROM tr),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM trtok),
    c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS n1u FROM trtok GROUP BY 1),
    trbg AS (SELECT unnest(list_transform(
               range(1, greatest(len(toks) - 1, 0) + 1),
               i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS b
             FROM tr WHERE len(toks) >= 2),
    c2 AS (SELECT b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS n12
           FROM trbg GROUP BY 1, 2),
    trtg AS (SELECT unnest(list_transform(
               range(1, greatest(len(toks) - 2, 0) + 1),
               i -> struct_pack(w1 := toks[i], w2 := toks[i + 1],
                                w3 := toks[i + 2]))) AS t
             FROM tr WHERE len(toks) >= 3),
    c3 AS (SELECT t.w1 AS w1, t.w2 AS w2, t.w3 AS w3,
                  CAST(count(*) AS BIGINT) AS n123
           FROM trtg GROUP BY 1, 2, 3),
    tetg AS (SELECT doc_id, t.w1 AS w1, t.w2 AS w2, t.w3 AS w3
             FROM (SELECT doc_id, unnest(list_transform(
                     range(1, greatest(len(toks) - 2, 0) + 1),
                     i -> struct_pack(w1 := toks[i], w2 := toks[i + 1],
                                      w3 := toks[i + 2]))) AS t
                   FROM te)),
    db3 AS (SELECT doc_id, w1, w2, w3, CAST(count(*) AS BIGINT) AS cnt
            FROM tetg GROUP BY 1, 2, 3, 4),
    scored AS (
      SELECT d.doc_id, d.cnt,
             CAST(CAST(CAST(CASE
               WHEN c3.n123 IS NOT NULL
                 THEN {sql_ln_ratio("c3.n123", "p12.n12")}
               WHEN p23.n12 IS NOT NULL
                 THEN {sql_ln_ratio("2 * p23.n12", "5 * u2.n1u")}
               WHEN u3.n1u IS NOT NULL
                 THEN {sql_ln_ratio("4 * u3.n1u", "25 * n.n_tokens")}
               ELSE {sql_ln_ratio("4", "25 * n.n_tokens")}
             END AS DECIMAL(18,9)) AS DECIMAL(28,9))
               * 1000000000 AS BIGINT) * d.cnt AS t
      FROM db3 d
      LEFT JOIN c3 ON c3.w1 = d.w1 AND c3.w2 = d.w2 AND c3.w3 = d.w3
      LEFT JOIN c2 p12 ON p12.w1 = d.w1 AND p12.w2 = d.w2
      LEFT JOIN c2 p23 ON p23.w1 = d.w2 AND p23.w2 = d.w3
      LEFT JOIN c1 u2 ON u2.w = d.w2
      LEFT JOIN c1 u3 ON u3.w = d.w3, n)
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_trigrams,
           {sql_mean_round6("sum(t)", "sum(cnt)")} AS avg_logscore
    FROM scored GROUP BY 1
    """,
)
def q_trigram_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out trigram LM scoring with stupid backoff (Brants et al.,
    EMNLP'07: S(w3|w1w2) backs off ×0.4 to the bigram, ×0.4² to the
    unigram, with a 1/N floor for OOV) — the perplexity-proxy that
    actually exercises backoff, unlike same-corpus scoring where every
    n-gram is trivially observed. The LM trains on the even-doc_id
    half; odd docs are scored. All count relations are
    vocabulary-sized aggregates of the train half; the test side
    collapses to per-doc distinct trigram counts before any join, and
    per-trigram terms quantize to DECIMAL(18,9) (count-weighted — an
    integer multiple of an exact decimal) so document sums are
    order-independent."""
    d = _t(spark, sf_dir, "documents")
    # NOTE (round-9, revised round-10 and round-14): the r9/r10 premise
    # that this environment performs NO exchange/subtree reuse is
    # stale — AQE deduplicates identical exchange subtrees within one
    # execution (OPTIMIZATION_r14.md, "Mechanism re-probes" #1: this
    # query's final plan holds 3 ReusedExchange), but only while the
    # consumer subtrees stay canonically equal, so a count relation
    # whose references are pruned or filtered differently still re-runs
    # its corpus pass per reference. Two rewrites were measured and
    # REJECTED in round 10: localCheckpoint of the vocab-sized count
    # relations (the build jobs make each bench sample rebuild it, paying
    # plan construction + eager checkpoint jobs, 6.7 s vs 3.25 prepared)
    # and a single-reference linear join chain (5.4 s — extra shuffles
    # beat the saved passes); round 9 had already rejected
    # checkpointing the tokenized corpus. The five-join tv lookup
    # below is the measured optimum for this runtime; SCALE.md r10
    # records all three attempts.
    toks = d.select(
        "doc_id",
        F.transform(token_array(F.col("text")), lambda x: F.lower(x)).alias(
            "toks"
        ),
    )
    tr = toks.filter(F.col("doc_id") % 2 == 0)
    te = toks.filter((F.col("doc_id") % 2 == 1) & (F.size("toks") >= 3))

    trtok = tr.select(F.explode("toks").alias("w"))
    n = trtok.agg(F.count("*").cast("long").alias("n_tokens"))
    c1 = trtok.groupBy("w").agg(F.count("*").alias("n1u"))

    def bigrams(df):
        return df.filter(F.size("toks") >= 2).select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.size("toks") - 1, F.lit(0))
                    ),
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("w1"),
                        F.element_at(F.col("toks"), i + 1).alias("w2"),
                    ),
                )
            ).alias("b"),
        ).select("doc_id", "b.w1", "b.w2")

    def trigrams(df):
        return df.filter(F.size("toks") >= 3).select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.size("toks") - 2, F.lit(0))
                    ),
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("w1"),
                        F.element_at(F.col("toks"), i + 1).alias("w2"),
                        F.element_at(F.col("toks"), i + 2).alias("w3"),
                    ),
                )
            ).alias("t"),
        ).select("doc_id", "t.w1", "t.w2", "t.w3")

    c2 = bigrams(tr).groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    c3 = (
        trigrams(tr)
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("n123"))
    )
    db3 = (
        trigrams(te)
        .groupBy("doc_id", "w1", "w2", "w3")
        .agg(F.count("*").alias("cnt"))
    )
    # score the DISTINCT test-trigram vocabulary, not (doc × trigram):
    # the backoff score is a function of the triple alone, so the five
    # count-relation joins and the two portable-ln expansions (~80
    # correctly-rounded double ops each) run once per distinct triple
    # — at real-corpus scale the test trigram vocabulary is orders of
    # magnitude below the doc×trigram instance count, and the single
    # join back to db3 replaces five instance-level shuffles
    tv = db3.groupBy("w1", "w2", "w3").agg(F.count("*").alias("_nd"))
    # Classic five-join lookup over the DISTINCT test-trigram
    # vocabulary (tv) — measured optimum for this runtime. A
    # single-reference linear chain (unpivot the two unigram and two
    # bigram lookups into one exploded join each, saving the two
    # repeated corpus passes this env's no-reuse charges for c1/c2)
    # was built and measured WORSE (5.4 s vs 3.25: the two extra
    # vocab-sized re-group shuffles and stage scheduling cost more
    # than the saved passes) — rejected, numbers in SCALE.md r10.
    p12 = c2.select(
        F.col("w1").alias("p12_w1"),
        F.col("w2").alias("p12_w2"),
        F.col("n12").alias("p12_n"),
    )
    p23 = c2.select(
        F.col("w1").alias("p23_w1"),
        F.col("w2").alias("p23_w2"),
        F.col("n12").alias("p23_n"),
    )
    u2 = c1.select(F.col("w").alias("u2_w"), F.col("n1u").alias("u2_n"))
    u3 = c1.select(F.col("w").alias("u3_w"), F.col("n1u").alias("u3_n"))
    joined = (
        tv.join(c3, on=["w1", "w2", "w3"], how="left")
        .join(
            p12,
            (F.col("w1") == F.col("p12_w1"))
            & (F.col("w2") == F.col("p12_w2")),
            "left",
        )
        .join(
            p23,
            (F.col("w2") == F.col("p23_w1"))
            & (F.col("w3") == F.col("p23_w2")),
            "left",
        )
        .join(u2, F.col("w2") == F.col("u2_w"), "left")
        .join(u3, F.col("w3") == F.col("u3_w"), "left")
        .crossJoin(F.broadcast(n))
    )
    # Stupid-backoff branches through the bit-portable ln (see
    # functions/portable_math.py): the 0.4 / 0.16 backoff factors are
    # exact small rationals (2/5, 4/25), so each branch scales INTO
    # the integer arguments — ln(0.4·a/b) = lnp(2a) − lnp(5b) — and
    # every transcendental input stays a positive int64 both engines
    # treat identically.
    score = (
        F.when(
            F.col("n123").isNotNull(),
            ln_ratio_portable(F.col("n123"), F.col("p12_n")),
        )
        .when(
            F.col("p23_n").isNotNull(),
            ln_ratio_portable(F.col("p23_n") * 2, F.col("u2_n") * 5),
        )
        .when(
            F.col("u3_n").isNotNull(),
            ln_ratio_portable(F.col("u3_n") * 4, F.col("n_tokens") * 25),
        )
        .otherwise(
            ln_ratio_portable(F.lit(4), F.col("n_tokens") * 25)
        )
    )
    tv_scored = joined.select(
        "w1", "w2", "w3", quantize_micro9(score).alias("_s")
    )
    scored = db3.join(tv_scored, on=["w1", "w2", "w3"]).select(
        "doc_id", "cnt", (F.col("_s") * F.col("cnt")).alias("t")
    )
    return scored.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_trigrams"),
        mean_round6_micro(F.sum("t"), F.sum("cnt")).alias("avg_logscore"),
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation evaluation
# ---------------------------------------------------------------------------

def _mat_cos(a: str, b: str, dims: int) -> str:
    """Rounded cosine over the first *dims* dimensions (DuckDB twin of
    _pair_cosine on truncated vectors)."""
    dot = f"list_sum(list_transform(range(1, {dims + 1}), i -> {a}[i] * {b}[i]))"
    na = f"sqrt(list_sum(list_transform(range(1, {dims + 1}), i -> {a}[i] * {a}[i])))"
    nb = f"sqrt(list_sum(list_transform(range(1, {dims + 1}), i -> {b}[i] * {b}[i])))"
    return f"floor(({dot}) / ({na} * {nb}) * 1000000.0 + 0.5) / 1000000.0"


def _mat_topk(dims: int, k: int = 5) -> str:
    return f"""
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_mat_cos('q.v', 'e.v', dims)} DESC,
                          e.vec_id ASC) AS rk
        FROM emb q, emb e
        WHERE q.vec_id < 4 AND e.vec_id <> q.vec_id) WHERE rk <= {k}"""


@register(
    "matryoshka_recall",
    f"""
    WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    full_k AS ({_mat_topk(64)}),
    trunc_k AS ({_mat_topk(16)}),
    hits AS (SELECT f.query_id, count(*) AS n_hits
             FROM full_k f JOIN trunc_k t
               ON f.query_id = t.query_id
              AND f.neighbor_id = t.neighbor_id
             GROUP BY 1)
    SELECT f.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           floor(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5.0
                 * 1000000.0 + 0.5) / 1000000.0 AS recall
    FROM (SELECT DISTINCT query_id FROM full_k) f
    LEFT JOIN hits h ON h.query_id = f.query_id
    """,
)
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation (Kusupati et al.,
    NeurIPS'22): search with only the FIRST 16 of 64 embedding
    dimensions and measure top-5 recall against the full-width exact
    ranking — the capacity question behind shipping truncated
    embeddings (4× less memory and bandwidth) for the coarse stage of
    a two-pass retrieval. Both rankings are the broadcast-query exact
    scan (corpus read once per ranking, never shuffled); the
    comparison join runs on two top-k relations, constant-sized."""

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 4)
    full_k = cosine_topk(e, q, k=5).select("query_id", "neighbor_id")
    trunc = e.select(
        "vec_id", F.slice(F.col("embedding"), 1, 16).alias("embedding")
    )
    trunc_k = cosine_topk(
        trunc, trunc.filter(F.col("vec_id") < 4), k=5
    ).select("query_id", F.col("neighbor_id").alias("t_neighbor"))
    hits = (
        full_k.join(
            trunc_k,
            (full_k["query_id"] == trunc_k["query_id"])
            & (full_k["neighbor_id"] == trunc_k["t_neighbor"]),
        )
        .groupBy(full_k["query_id"].alias("query_id"))
        .agg(F.count("*").alias("n_hits"))
    )
    qids = full_k.select("query_id").distinct()
    return (
        qids.join(hits, on="query_id", how="left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0))
            .cast("long")
            .alias("n_hits"),
            round_portable(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.lit(5.0),
                6,
            ).alias("recall"),
        )
    )


@register(
    "quantization_error_stats",
    """
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    qz AS (SELECT vec_id, v,
                  list_max(list_transform(v, x -> abs(x))) AS s,
                  list_transform(v, x ->
                    CAST(floor(x / list_max(list_transform(v, y -> abs(y)))
                               * 127 + 0.5) AS INTEGER)) AS q
           FROM e WHERE list_max(list_transform(v, x -> abs(x))) > 0),
    dq AS (SELECT vec_id, v, s,
                  list_transform(q, c -> c * s / 127.0) AS vq
           FROM qz),
    err AS (
      SELECT vec_id,
             CAST(floor(
               (list_sum(list_transform(range(1, 65), i -> v[i] * vq[i]))
                / (sqrt(list_sum(list_transform(v, x -> x * x)))
                   * sqrt(list_sum(list_transform(vq, x -> x * x)))))
               * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6)) AS cos,
             CAST(floor(list_max(list_transform(range(1, 65),
                    i -> abs(v[i] - vq[i]))) * 1000000.0 + 0.5) AS BIGINT)
               AS max_abs_err_micro
      FROM dq)
    SELECT CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(min(cos) AS DOUBLE) AS min_cos,
           floor(CAST(sum(cos) AS DOUBLE) / count(*) * 1000000.0 + 0.5)
             / 1000000.0 AS mean_cos,
           max(max_abs_err_micro) AS max_err_micro
    FROM err
    """,
)
def q_quantization_error_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization fidelity report: quantize (per-vector max-abs
    int8, the same rule as embedding_quantize_int8), dequantize, and
    measure per-vector cosine against the original plus the worst
    element-wise error — the acceptance gate before switching an ANN
    corpus to int8 (4× memory). Entirely row-local array math inside
    the scan; the only aggregation is the final 4-cell summary.
    Per-vector cosines quantize to DECIMAL(18,6) so the corpus mean is
    order-independent."""
    e = _t(spark, sf_dir, "embeddings")
    v = F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    base = e.select("vec_id", v.alias("v")).withColumn(
        "s", F.expr("array_max(transform(v, x -> abs(x)))")
    ).filter(F.col("s") > 0)
    qz = base.withColumn(
        "q",
        F.expr(
            "transform(v, x -> CAST(floor(x / s * 127 + 0.5D) AS INT))"
        ),
    ).withColumn("vq", F.expr("transform(q, c -> c * s / 127.0D)"))
    cos = F.expr(
        "floor((aggregate(zip_with(v, vq, (x, y) -> x * y), 0.0D,"
        " (acc, x) -> acc + x)"
        " / (sqrt(aggregate(v, 0.0D, (acc, x) -> acc + x * x))"
        "    * sqrt(aggregate(vq, 0.0D, (acc, x) -> acc + x * x))))"
        " * 1000000.0D + 0.5D) / 1000000.0D"
    )
    err = qz.select(
        "vec_id",
        cos.cast("decimal(18,6)").alias("cos"),
        F.expr(
            "CAST(floor(array_max(zip_with(v, vq,"
            " (x, y) -> abs(x - y))) * 1000000.0D + 0.5D) AS BIGINT)"
        ).alias("max_abs_err_micro"),
    )
    return err.agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.min("cos").cast("double").alias("min_cos"),
        round_portable(
            F.sum("cos").cast("double") / F.count("*"), 6
        ).alias("mean_cos"),
        F.max("max_abs_err_micro").alias("max_err_micro"),
    )


@register("bpe_encode_corpus", _bpe_encode_oracle(6))
def q_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION at corpus scale: learn 6 BPE merges, then
    encode every document and report its post-merge token count and
    compression vs raw characters. The merge walk runs once per
    DISTINCT word (operators.text.bpe_encode_vocab — the word→pieces
    cache every fast tokenizer keeps); the corpus token stream joins
    that vocabulary-sized lookup and aggregates per doc. Oracle since
    round 11 (previously the registry's one rows-only member): the
    learn oracle's own unrolled round-``t`` rewrite ``v{t}`` is the
    vocabulary encoded with the first ``t`` merges, so
    :func:`_bpe_encode_oracle` aggregates ``v6`` per word and replays
    the same stream join — no bounded-depth unrolling of the per-word
    merge walk needed. Encode exactness vs a pure-Python reference
    remains pinned in tests/test_training_ops.py."""

    d = _t(spark, sf_dir, "documents")
    merges = learn_bpe_merges(d, n_merges=6)
    vocab = bpe_encode_vocab(d, merges)
    stream = d.select(
        "doc_id",
        F.explode(
            F.transform(token_array(F.col("text")), lambda x: F.lower(x))
        ).alias("word"),
    )
    return (
        stream.join(vocab, on="word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("char_len").cast("long").alias("n_chars"),
            F.sum("tok_len").cast("long").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars",
            "n_tokens",
            round_portable(
                F.col("n_tokens").cast("double") / F.col("n_chars"), 6
            ).alias("compression"),
        )
    )


# ---------------------------------------------------------------------------
# Instruction-pair assembly + length-grouped batching economics
# ---------------------------------------------------------------------------

@register(
    "sft_pairs_assembly",
    f"""
    WITH t AS (SELECT doc_id, {LTOKS} AS toks FROM documents),
    ok AS (SELECT doc_id, toks FROM t
           WHERE len(toks) >= 20 AND len(toks) - 10 <= 200),
    pair AS (SELECT doc_id,
                    array_to_string(toks[1:10], ' ') AS instruction,
                    array_to_string(toks[11:len(toks)], ' ') AS response
             FROM ok)
    SELECT doc_id,
           CAST(10 AS BIGINT) AS n_inst_tokens,
           CAST(length(response) - length(replace(response, ' ', '')) + 1
                AS BIGINT) AS n_resp_tokens,
           CAST(length('Q: ' || instruction || chr(10) || 'A: ' || response)
                AS BIGINT) AS pair_chars
    FROM pair
    """,
)
def q_sft_pairs_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-tuning pair assembly: split each document into a
    10-token instruction head and a response tail, drop under-length
    docs and over-budget responses, and render the training template
    ("Q: ...\\nA: ...") — the deterministic half of SFT data prep
    (the other half, dedup/decontamination/packing, is the rest of
    this registry). Pure scan-local array and string algebra; the
    length gates are the budget every SFT pipeline enforces before
    packing."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.transform(token_array(F.col("text")), lambda x: F.lower(x)).alias(
            "toks"
        ),
    )
    ok = toks.filter(
        (F.size("toks") >= 20) & (F.size("toks") - 10 <= 200)
    )
    pair = ok.select(
        "doc_id",
        F.array_join(F.slice("toks", 1, 10), " ").alias("instruction"),
        F.array_join(
            F.slice(F.col("toks"), 11, F.size("toks") - 10), " "
        ).alias("response"),
    )
    resp_tokens = (
        F.length("response")
        - F.length(F.regexp_replace("response", " ", ""))
        + 1
    )
    return pair.select(
        "doc_id",
        F.lit(10).cast("long").alias("n_inst_tokens"),
        resp_tokens.cast("long").alias("n_resp_tokens"),
        F.length(
            F.concat(
                F.lit("Q: "),
                F.col("instruction"),
                F.lit("\n"),
                F.lit("A: "),
                F.col("response"),
            )
        )
        .cast("long")
        .alias("pair_chars"),
    )


@register(
    "padding_waste_report",
    f"""
    WITH t AS (SELECT doc_id, CAST(len({LTOKS}) AS BIGINT) AS n_toks
               FROM documents),
    rnd AS (SELECT n_toks,
                   (row_number() OVER (ORDER BY md5('pad:' ||
                      CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) - 1) // 32
                     AS batch
            FROM t),
    srt AS (SELECT n_toks,
                   (row_number() OVER (ORDER BY n_toks ASC, doc_id ASC) - 1)
                     // 32 AS batch
            FROM t),
    w_rnd AS (SELECT count(*) * max(n_toks) - sum(n_toks) AS waste
              FROM rnd GROUP BY batch),
    w_srt AS (SELECT count(*) * max(n_toks) - sum(n_toks) AS waste
              FROM srt GROUP BY batch),
    a AS (SELECT CAST(sum(waste) AS BIGINT) AS waste_random FROM w_rnd),
    b AS (SELECT CAST(sum(waste) AS BIGINT) AS waste_sorted FROM w_srt),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_toks) AS BIGINT) AS n_tokens FROM t)
    SELECT n_docs, n_tokens, waste_random, waste_sorted,
           floor((1.0 - CAST(waste_sorted AS DOUBLE)
                  / nullif(waste_random, 0)) * 1000000.0 + 0.5) / 1000000.0
             AS savings_frac
    FROM n, a, b
    """,
)
def q_padding_waste_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batching economics: padded-token waste of
    batch-32 training batches under (a) a deterministic random order
    and (b) length-sorted order — the measurement that justifies
    length bucketing in every training data loader (each batch pads to
    its max). The doc-length relation is CORPUS-SIZED, so both
    orderings rank with the bucketed two-phase
    :func:`~.operators.order_stats.with_global_rank` — the md5 order
    buckets by :func:`~.operators.order_stats.hex_prefix_key` (the
    digest's leading 60 bits, monotone in its lexicographic order),
    the length order by the token count itself. The tokenized-length
    relation is checkpointed ONCE here and shared by both rankings and
    the totals aggregate (``materialize=False`` inside the operators),
    so the regex tokenization of every document runs once, not five
    times. Waste is exact integer arithmetic; no unpartitioned window
    anywhere."""

    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(
            F.transform(token_array(F.col("text")), lambda x: F.lower(x))
        )
        .cast("long")
        .alias("n_toks"),
    ).localCheckpoint(eager=False)
    h = F.md5(F.concat(F.lit("pad:"), F.col("doc_id").cast("string")))

    def waste(key, order_cols) -> DataFrame:
        ranked = with_global_rank(
            t, key, order_cols, "_rn", materialize=False
        )
        batched = ranked.select(
            "n_toks", F.expr("(_rn - 1) div 32").alias("batch")
        )
        per = batched.groupBy("batch").agg(
            (F.count("*") * F.max("n_toks") - F.sum("n_toks")).alias("w")
        )
        return per.agg(F.sum("w").cast("long"))

    waste_rnd = waste(
        hex_prefix_key(h), [h.asc(), F.col("doc_id").asc()]
    ).toDF("waste_random")
    waste_srt = waste(
        F.col("n_toks"), [F.col("n_toks").asc(), F.col("doc_id").asc()]
    ).toDF("waste_sorted")
    n = t.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
    )
    return (
        n.crossJoin(waste_rnd)
        .crossJoin(waste_srt)
        .select(
            "n_docs",
            "n_tokens",
            "waste_random",
            "waste_sorted",
            round_portable(
                F.lit(1.0)
                - F.col("waste_sorted").cast("double")
                / F.nullif(F.col("waste_random"), F.lit(0)),
                6,
            ).alias("savings_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Trained quality classifier (CCNet/fastText curation stage — round 11)
# ---------------------------------------------------------------------------

@register("quality_classifier_score", QC_SCORE_ORACLE)
def q_quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality-classifier scoring — the CCNet/fastText curation
    stage the rule gates and LM-perplexity proxies don't cover (round-10
    verdict #3): multinomial Naive Bayes log-odds over hashed
    unigram∪bigram features (operators.text.quality_classifier_weights /
    _score), trained deterministically on a labeled split (80% of docs
    by ``doc_id % 5 != 0``; class 1 = ``lang = 'en'`` — the in-data
    stand-in for "reference corpus vs crawl") and scored over ALL
    documents. Training reduces to exact count aggregates + the
    bit-portable ln, so weights, scores and predictions are integer-
    exact cross-engine. Scale: the training stream collapses to the
    1024-bucket grain map-side; scoring is one doc-keyed aggregation
    with the ≤1025-row weight relation broadcast onto it."""

    d = _t(spark, sf_dir, "documents")
    labeled = d.filter(F.col("doc_id") % 5 != 0).withColumn(
        "y", (F.col("lang") == "en").cast("int")
    )
    w = quality_classifier_weights(labeled, label_col="y", n_buckets=QC_B)
    return quality_classifier_score(d, w, n_buckets=QC_B)


# ---------------------------------------------------------------------------
# Margin-based bitext mining (Artetxe & Schwenk — round 11)
# ---------------------------------------------------------------------------

_BM_CM = (
    "CAST(floor(" + _DOT64.format(a="sv", b="tv")
    + " / (" + _NORM.format(v="sv") + " * " + _NORM.format(v="tv")
    + ") * 1000000.0 + 0.5) AS BIGINT)"
)


@register(
    "bitext_margin_mine",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    s AS (SELECT vec_id AS src_id, v AS sv FROM e WHERE vec_id % 2 = 0),
    t AS (SELECT vec_id AS tgt_id, v AS tv FROM e WHERE vec_id % 2 = 1),
    p AS (SELECT src_id, tgt_id, {_BM_CM} AS cm FROM s, t),
    f AS (SELECT *, row_number() OVER (
            PARTITION BY src_id ORDER BY cm DESC, tgt_id ASC) AS rf
          FROM p),
    b AS (SELECT *, row_number() OVER (
            PARTITION BY tgt_id ORDER BY cm DESC, src_id ASC) AS rb
          FROM p),
    sf AS (SELECT src_id, CAST(sum(cm) AS BIGINT) AS sum_f
           FROM f WHERE rf <= 4 GROUP BY 1),
    sb AS (SELECT tgt_id, CAST(sum(cm) AS BIGINT) AS sum_b
           FROM b WHERE rb <= 4 GROUP BY 1),
    cand AS (SELECT DISTINCT src_id, tgt_id, cm FROM (
               SELECT src_id, tgt_id, cm FROM f WHERE rf <= 4
               UNION ALL
               SELECT src_id, tgt_id, cm FROM b WHERE rb <= 4)),
    m AS (SELECT c.src_id, c.tgt_id, c.cm,
                 CAST((c.cm * 8000000) // (sum_f + sum_b) AS BIGINT)
                   AS margin_micro
          FROM cand c JOIN sf USING (src_id) JOIN sb USING (tgt_id)
          WHERE c.cm >= 0 AND sum_f + sum_b > 0),
    r AS (SELECT *,
            row_number() OVER (PARTITION BY src_id
              ORDER BY margin_micro DESC, tgt_id ASC) AS qf,
            row_number() OVER (PARTITION BY tgt_id
              ORDER BY margin_micro DESC, src_id ASC) AS qb
          FROM m)
    SELECT src_id, tgt_id, cm AS cos_micro, margin_micro
    FROM r WHERE qf = 1 AND qb = 1
    """,
)
def q_bitext_margin_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual pair mining (Artetxe & Schwenk ratio margin +
    mutual-best filter — the CCMatrix recipe), with the even/odd
    ``vec_id`` halves of the embeddings table standing in for the two
    languages' encoder outputs. Composes the exact-kNN baseline of
    :func:`operators.similarity.bitext_margin_mine`; the IVF-composed
    scale path is equivalence-pinned in tests/test_bitext_mining.py.
    Integer micro-unit cosines, exact integer neighborhood sums, one
    non-negative integer division per candidate — bit-identical
    cross-engine."""

    e = _t(spark, sf_dir, "embeddings")
    return bitext_margin_mine(
        e.filter(F.col("vec_id") % 2 == 0),
        e.filter(F.col("vec_id") % 2 == 1),
        k=4,
    )


@register(
    "quality_classifier_eval",
    f"""
    WITH lab AS (SELECT doc_id, {LTOKS} AS toks,
                        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                 FROM documents WHERE doc_id % 5 <> 0),
    lg AS ({QC_GRAMS.format(rel="lab", keep="y")}),
    lb AS (SELECT {QC_BUCKET} AS bucket, y FROM lg),
    cnt AS (SELECT bucket,
                   CAST(count(*) FILTER (y = 1) AS BIGINT) AS c1,
                   CAST(count(*) FILTER (y = 0) AS BIGINT) AS c0
            FROM lb GROUP BY 1),
    allb AS (SELECT r.range AS bucket,
                    coalesce(c1, 0) AS c1, coalesce(c0, 0) AS c0
             FROM range(0, {QC_B}) r
             LEFT JOIN cnt ON r.range = cnt.bucket),
    tot AS (SELECT CAST(sum(c1) + {QC_B} AS BIGINT) AS t1b,
                   CAST(sum(c0) + {QC_B} AS BIGINT) AS t0b
            FROM allb),
    w AS (SELECT bucket,
                 {qc_qln("c1 + 1")} - {qc_qln("t1b")}
                 - {qc_qln("c0 + 1")} + {qc_qln("t0b")} AS wm
          FROM allb, tot),
    pr AS (SELECT {qc_qln("n1")} - {qc_qln("n0")} AS pm FROM (
             SELECT CAST(count(*) FILTER (y = 1) AS BIGINT) AS n1,
                    CAST(count(*) FILTER (y = 0) AS BIGINT) AS n0
             FROM lab)),
    d AS (SELECT doc_id, {LTOKS} AS toks,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents WHERE doc_id % 5 = 0),
    dg AS ({QC_GRAMS.format(rel="d", keep="doc_id")}),
    db AS (SELECT doc_id, {QC_BUCKET} AS bucket,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM dg GROUP BY 1, 2),
    s AS (SELECT doc_id, CAST(sum(cnt * wm) AS BIGINT) AS dot
          FROM db JOIN w USING (bucket) GROUP BY 1),
    scored AS (SELECT d.doc_id, d.y,
                      CASE WHEN (dot + pm) > 0 THEN 1 ELSE 0 END AS pred
               FROM s JOIN d USING (doc_id), pr)
    SELECT CAST(count(*) AS BIGINT) AS n_eval,
           CAST(count(*) FILTER (y = 1 AND pred = 1) AS BIGINT) AS tp,
           CAST(count(*) FILTER (y = 0 AND pred = 1) AS BIGINT) AS fp,
           CAST(count(*) FILTER (y = 0 AND pred = 0) AS BIGINT) AS tn,
           CAST(count(*) FILTER (y = 1 AND pred = 0) AS BIGINT) AS fn,
           floor(CAST(count(*) FILTER (y = pred) AS DOUBLE) / count(*)
                 * 1000000.0 + 0.5) / 1000000.0 AS accuracy
    FROM scored
    """,
)
def q_quality_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out evaluation of the trained quality classifier — the
    validate half of the train/validate workflow every curation
    classifier ships with: train on the 80% split (``doc_id % 5 !=
    0``), score the UNSEEN 20%, and report the confusion matrix +
    accuracy against the same labeling rule. One aggregate row, every
    cell an exact integer (the accuracy division is the only double,
    portable-rounded). Scale shape identical to
    quality_classifier_score — the eval split adds one broadcast-
    weight scoring pass and a 5-long aggregation."""

    d = _t(spark, sf_dir, "documents")
    y = (F.col("lang") == "en").cast("int")
    train = d.filter(F.col("doc_id") % 5 != 0).withColumn("y", y)
    held = d.filter(F.col("doc_id") % 5 == 0).withColumn("y", y)
    w = quality_classifier_weights(train, label_col="y", n_buckets=QC_B)
    scored = quality_classifier_score(held, w, n_buckets=QC_B).join(
        held.select("doc_id", "y"), on="doc_id"
    )
    agree = (F.col("y") == F.col("pred")).cast("int")
    return scored.agg(
        F.count("*").cast("long").alias("n_eval"),
        F.sum(((F.col("y") == 1) & (F.col("pred") == 1)).cast("int"))
        .cast("long")
        .alias("tp"),
        F.sum(((F.col("y") == 0) & (F.col("pred") == 1)).cast("int"))
        .cast("long")
        .alias("fp"),
        F.sum(((F.col("y") == 0) & (F.col("pred") == 0)).cast("int"))
        .cast("long")
        .alias("tn"),
        F.sum(((F.col("y") == 1) & (F.col("pred") == 0)).cast("int"))
        .cast("long")
        .alias("fn"),
        round_portable(
            F.sum(agree).cast("double") / F.count("*"), 6
        ).alias("accuracy"),
    )


def _ivf_cos(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i])) / "
        f"(sqrt(list_sum(list_transform({a}, x -> x * x))) * "
        f"sqrt(list_sum(list_transform({b}, x -> x * x))))"
    )


def _ivf_r6(x: str) -> str:
    return f"floor(({x}) * 1000000.0 + 0.5) / 1000000.0"


def _ivf_cm(x: str) -> str:
    return f"CAST(floor(({x}) * 1000000.0 + 0.5) AS BIGINT)"


def _ivf_knn_ctes(
    qrel: str, qid: str, qv: str, crel: str, cid_: str, cv: str, out: str,
    stride: int, nprobe: int, k: int,
) -> str:
    """One relational IVF direction (corpus=*crel*, queries=*qrel* →
    top-*k* per query): deterministic centroid sample → rank-1
    assignment → nprobe probe join → rounded-cosine top-k — the SQL
    twin of operators.similarity.ivf_topk (same construction as
    oracle_fragments._ivf_oracle), shared by the sentence-grain and
    doc-grain bitext oracles. No self-exclusion in the probe join:
    cross-relation kNN, exclude_self=False (round-11 advisor)."""
    cos, r6, cm = _ivf_cos, _ivf_r6, _ivf_cm
    return f"""
    cent_{out} AS (SELECT {cid_} AS cid, {cv} AS cv
                   FROM {crel} WHERE {cid_} % {stride} = 0),
    assign_{out} AS (
      SELECT {cid_} AS nid, {cv} AS nv, cid FROM (
        SELECT c.{cid_}, c.{cv}, ct.cid,
               row_number() OVER (PARTITION BY c.{cid_}
                 ORDER BY {r6(cos(f"c.{cv}", "ct.cv"))} DESC,
                          ct.cid ASC) AS rn
        FROM {crel} c, cent_{out} ct) WHERE rn = 1),
    probes_{out} AS (
      SELECT qid, qv, cid FROM (
        SELECT q.{qid} AS qid, q.{qv} AS qv, ct.cid,
               row_number() OVER (PARTITION BY q.{qid}
                 ORDER BY {r6(cos(f"q.{qv}", "ct.cv"))} DESC,
                          ct.cid ASC) AS rn
        FROM {qrel} q, cent_{out} ct) WHERE rn <= {nprobe}),
    {out} AS (
      SELECT qid, nid, cmv FROM (
        SELECT p.qid, a.nid, {_ivf_cm(_ivf_cos("p.qv", "a.nv"))} AS cmv,
               row_number() OVER (PARTITION BY p.qid
                 ORDER BY {r6(cos("p.qv", "a.nv"))} DESC,
                          a.nid ASC) AS rk
        FROM probes_{out} p JOIN assign_{out} a
          ON p.cid = a.cid)
      WHERE rk <= {k})"""


def _bitext_ivf_oracle(stride: int = 25, nprobe: int = 2, k: int = 4) -> str:
    """DuckDB twin of bitext_margin_mine(method='ivf'): each direction
    replays ivf_topk relationally (:func:`_ivf_knn_ctes`), then the
    margin / mutual-best algebra of the exact oracle runs over the IVF
    candidate sets. The centroid stride is ODD so both id-parity
    halves sample centroids at all."""

    def knn(qrel, qid, qv, crel, cid_, cv, out):
        return _ivf_knn_ctes(
            qrel, qid, qv, crel, cid_, cv, out, stride, nprobe, k
        )

    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    s AS (SELECT vec_id AS src_id, v AS sv FROM e WHERE vec_id % 2 = 0),
    t AS (SELECT vec_id AS tgt_id, v AS tv FROM e WHERE vec_id % 2 = 1),
    {knn("s", "src_id", "sv", "t", "tgt_id", "tv", "fwd")},
    {knn("t", "tgt_id", "tv", "s", "src_id", "sv", "bwd")},
    sf AS (SELECT qid AS src_id, CAST(sum(cmv) AS BIGINT) AS sum_f
           FROM fwd GROUP BY 1),
    sb AS (SELECT qid AS tgt_id, CAST(sum(cmv) AS BIGINT) AS sum_b
           FROM bwd GROUP BY 1),
    cand AS (SELECT DISTINCT src_id, tgt_id, cmv FROM (
               SELECT qid AS src_id, nid AS tgt_id, cmv FROM fwd
               UNION ALL
               SELECT nid AS src_id, qid AS tgt_id, cmv FROM bwd)),
    m AS (SELECT c.src_id, c.tgt_id, c.cmv,
                 CAST((c.cmv * {2 * k * 1000000}) // (sum_f + sum_b)
                      AS BIGINT) AS margin_micro
          FROM cand c JOIN sf USING (src_id) JOIN sb USING (tgt_id)
          WHERE c.cmv >= 0 AND sum_f + sum_b > 0),
    r AS (SELECT *,
            row_number() OVER (PARTITION BY src_id
              ORDER BY margin_micro DESC, tgt_id ASC) AS qf,
            row_number() OVER (PARTITION BY tgt_id
              ORDER BY margin_micro DESC, src_id ASC) AS qb
          FROM m)
    SELECT src_id, tgt_id, cmv AS cos_micro, margin_micro
    FROM r WHERE qf = 1 AND qb = 1
    """


@register("bitext_margin_mine_ivf", _bitext_ivf_oracle())
def q_bitext_margin_mine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path of the bitext miner with its own driver receipt:
    forward+backward kNN through the IVF machinery (deterministic
    centroid sample, rank-1 inverted-list assignment, nprobe=2 probe
    join — odd stride 25 so both id-parity halves sample centroids),
    then the identical margin / mutual-best algebra as
    ``bitext_margin_mine``. At 100 TB each direction probes lists
    instead of the full cross product; recall is lost only through
    probe selectivity, never the margin algebra (exact-equivalence
    when probing all lists is pinned in tests/test_bitext_mining.py)."""

    e = _t(spark, sf_dir, "embeddings")
    return bitext_margin_mine(
        e.filter(F.col("vec_id") % 2 == 0),
        e.filter(F.col("vec_id") % 2 == 1),
        k=4,
        method="ivf",
        centroid_stride=25,
        nprobe=2,
    )


def _bitext_doc_ivf_oracle(stride: int = 25, nprobe: int = 2, k: int = 3) -> str:
    """DuckDB twin of bitext_doc_align(method='ivf'): the doc-centroid
    CTEs of the exact doc-align oracle feed the shared relational IVF
    kNN (:func:`_ivf_knn_ctes`), then the margin / mutual-best algebra
    runs over the IVF candidate sets — the 100 TB shape: centroid
    pooling shrinks sentences to docs BEFORE scoring, and probing
    inverted lists replaces the doc×doc cross product."""
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    {_DOCCENT.format(raw="sraw", dim="sdim", out="s", par=0,
                     id="src_id", vec="sv")},
    {_DOCCENT.format(raw="traw", dim="tdim", out="t", par=1,
                     id="tgt_id", vec="tv")},
    {_ivf_knn_ctes("s", "src_id", "sv", "t", "tgt_id", "tv", "fwd",
                   stride, nprobe, k)},
    {_ivf_knn_ctes("t", "tgt_id", "tv", "s", "src_id", "sv", "bwd",
                   stride, nprobe, k)},
    sf AS (SELECT qid AS src_id, CAST(sum(cmv) AS BIGINT) AS sum_f
           FROM fwd GROUP BY 1),
    sb AS (SELECT qid AS tgt_id, CAST(sum(cmv) AS BIGINT) AS sum_b
           FROM bwd GROUP BY 1),
    cand AS (SELECT DISTINCT src_id, tgt_id, cmv FROM (
               SELECT qid AS src_id, nid AS tgt_id, cmv FROM fwd
               UNION ALL
               SELECT nid AS src_id, qid AS tgt_id, cmv FROM bwd)),
    m AS (SELECT c.src_id, c.tgt_id, c.cmv,
                 CAST((c.cmv * {2 * k * 1000000}) // (sum_f + sum_b)
                      AS BIGINT) AS margin_micro
          FROM cand c JOIN sf USING (src_id) JOIN sb USING (tgt_id)
          WHERE c.cmv >= 0 AND sum_f + sum_b > 0),
    r AS (SELECT *,
            row_number() OVER (PARTITION BY src_id
              ORDER BY margin_micro DESC, tgt_id ASC) AS qf,
            row_number() OVER (PARTITION BY tgt_id
              ORDER BY margin_micro DESC, src_id ASC) AS qb
          FROM m)
    SELECT src_id, tgt_id, cmv AS cos_micro, margin_micro
    FROM r WHERE qf = 1 AND qb = 1
    """


#: one side's doc-centroid CTEs: micro-quantize each element, exact
#: int64 dimension sums, ONE IEEE division per dim — the SQL twin of
#: operators.similarity.doc_centroids (sentences → 16-id doc groups)
_DOCCENT = """
    {raw} AS (SELECT vec_id // 16 AS did, v FROM e WHERE vec_id % 2 = {par}),
    {dim} AS (SELECT did, u.i AS dim,
                     CAST(sum(CAST(floor(v[u.i] * 1000000.0 + 0.5)
                                   AS BIGINT)) AS BIGINT) AS sm,
                     CAST(count(*) AS BIGINT) AS n
              FROM {raw}, unnest(range(1, 65)) AS u(i) GROUP BY 1, 2),
    {out} AS (SELECT did AS {id}, list(CAST(sm AS DOUBLE)
                       / (CAST(n AS DOUBLE) * 1000000.0)
                       ORDER BY dim) AS {vec}
              FROM {dim} GROUP BY 1)"""


@register(
    "bitext_doc_align",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    {_DOCCENT.format(raw="sraw", dim="sdim", out="s", par=0,
                     id="src_id", vec="sv")},
    {_DOCCENT.format(raw="traw", dim="tdim", out="t", par=1,
                     id="tgt_id", vec="tv")},
    p AS (SELECT src_id, tgt_id, {_BM_CM} AS cm FROM s, t),
    f AS (SELECT *, row_number() OVER (
            PARTITION BY src_id ORDER BY cm DESC, tgt_id ASC) AS rf
          FROM p),
    b AS (SELECT *, row_number() OVER (
            PARTITION BY tgt_id ORDER BY cm DESC, src_id ASC) AS rb
          FROM p),
    sf AS (SELECT src_id, CAST(sum(cm) AS BIGINT) AS sum_f
           FROM f WHERE rf <= 3 GROUP BY 1),
    sb AS (SELECT tgt_id, CAST(sum(cm) AS BIGINT) AS sum_b
           FROM b WHERE rb <= 3 GROUP BY 1),
    cand AS (SELECT DISTINCT src_id, tgt_id, cm FROM (
               SELECT src_id, tgt_id, cm FROM f WHERE rf <= 3
               UNION ALL
               SELECT src_id, tgt_id, cm FROM b WHERE rb <= 3)),
    m AS (SELECT c.src_id, c.tgt_id, c.cm,
                 CAST((c.cm * 6000000) // (sum_f + sum_b) AS BIGINT)
                   AS margin_micro
          FROM cand c JOIN sf USING (src_id) JOIN sb USING (tgt_id)
          WHERE c.cm >= 0 AND sum_f + sum_b > 0),
    r AS (SELECT *,
            row_number() OVER (PARTITION BY src_id
              ORDER BY margin_micro DESC, tgt_id ASC) AS qf,
            row_number() OVER (PARTITION BY tgt_id
              ORDER BY margin_micro DESC, src_id ASC) AS qb
          FROM m)
    SELECT src_id, tgt_id, cm AS cos_micro, margin_micro
    FROM r WHERE qf = 1 AND qb = 1
    """,
)
def q_bitext_doc_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level cross-lingual alignment (round-11 verdict #3):
    groups of 16 consecutive ``vec_id``s form a "document" on each
    parity half, sentences mean-pool to exact doc centroids
    (:func:`operators.similarity.doc_centroids` — micro-quantized
    int64 sums, one IEEE division per dim), and the Artetxe-Schwenk
    ratio-margin + mutual-best algebra runs at the DOC grain with
    k=3 (:func:`operators.similarity.bitext_doc_align`). The two
    sides' doc id spaces OVERLAP by construction (both are
    ``vec_id // 16``) — exercising the id-collision-safe
    cross-relation kNN in production, not just in tests. Hand-traced
    fixture in tests/test_bitext_mining.py."""

    e = _t(spark, sf_dir, "embeddings")
    return bitext_doc_align(
        e.filter(F.col("vec_id") % 2 == 0).select(
            F.expr("vec_id DIV 16").alias("did"), "embedding"
        ),
        e.filter(F.col("vec_id") % 2 == 1).select(
            F.expr("vec_id DIV 16").alias("did"), "embedding"
        ),
        doc_col="did",
        k=3,
    )


# placed after _DOCCENT, which its oracle interpolates at import
@register("bitext_doc_align_ivf", _bitext_doc_ivf_oracle())
def q_bitext_doc_align_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path of document alignment with its own driver
    receipt (mirroring ``bitext_margin_mine_ivf`` at the doc
    grain): sentences mean-pool to exact doc centroids, then each
    direction's kNN probes inverted lists (odd stride 25 over doc
    ids, nprobe=2) instead of the doc×doc cross product, and the
    identical k=3 margin / mutual-best algebra runs over the
    candidate sets. Recall is lost only through probe selectivity,
    never the pooling or margin algebra."""

    e = _t(spark, sf_dir, "embeddings")
    return bitext_doc_align(
        e.filter(F.col("vec_id") % 2 == 0).select(
            F.expr("vec_id DIV 16").alias("did"), "embedding"
        ),
        e.filter(F.col("vec_id") % 2 == 1).select(
            F.expr("vec_id DIV 16").alias("did"), "embedding"
        ),
        doc_col="did",
        k=3,
        method="ivf",
        centroid_stride=25,
        nprobe=2,
    )
