"""LLM-data-pipeline workload: text analysis, dedup, similarity search,
multimodal — each a registered query with a DuckDB oracle twin
(generated programmatically where the SQL is formulaic, so the Spark
operator and its oracle share one source of constants).

Registered into the same ``QUERIES`` registry as the relational
workload; ``workload`` imports this module at the end of its own
definition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.functions.core import (
    round_portable,
    token_array,
)
from air_quality_etl_pipeline_spark.operators import multimodal
from air_quality_etl_pipeline_spark.operators.cache import materialize
from air_quality_etl_pipeline_spark.operators.dedup import (
    exact_dup_groups,
    minhash_lsh_pairs,
    simhash_bits,
    simhash_pairs,
)
from air_quality_etl_pipeline_spark.operators.similarity import (
    cosine_pairs,
    cosine_topk,
    ivf_topk,
    kmeans_parallel_candidates,
    kmeans_update_step,
    label_centroid_micro,
    quantize_int8,
    sign_lsh_topk,
)
from air_quality_etl_pipeline_spark.operators.text import (
    BPE_PRETOKEN_PATTERN,
    EMAIL_PATTERN,
    ID_PATTERN,
    IPV4_PATTERN,
    IPV6_PATTERN,
    LANG_STOPWORDS,
    PHONE_PATTERN,
    URL_PATTERN,
    bpe_token_count,
    quality_score,
    repetition_stats,
    scrub_text,
    stopword_ratio,
    token_count,
    unique_token_ratio,
)
from air_quality_etl_pipeline_spark.workload import (
    SIDE_EFFECT_QUERIES,
    _t,
    register,
)

# builder writes the bucketed index table — the plan sweep must not
# construct it
SIDE_EFFECT_QUERIES.add("ann_ivf_bucketed_batch")

# ---- shared SQL fragments -------------------------------------------------

#: whitespace tokens, [] on blank — mirrors functions.core.token_array
# canonical definition moved to the LEAF oracle_fragments module
# (r13 circular-import fix); re-exported here for the many importers
from air_quality_etl_pipeline_spark.oracle_fragments import TOKS  # noqa: E402,F401


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _shingles_sql(expr: str = "text", n: int = 3) -> str:
    """Distinct char n-grams — mirrors functions.core.char_shingles."""
    return (
        f"list_distinct([substr({expr}, i, {n}) "
        f"for i in range(1, greatest(len({expr}) - {n - 1}, 1) + 1)])"
    )


def _word_shingles_sql(n: int = 5) -> str:
    """Distinct word n-grams over a ``toks`` array column — mirrors
    functions.core.word_shingles_of_tokens (DuckDB list slice is inclusive, Spark
    ``slice(toks, i, n)`` is start+length; both clamp at the end)."""
    return (
        f"list_distinct([array_to_string(toks[i:i+{n - 1}], ' ') "
        f"for i in range(1, greatest(len(toks) - {n - 1}, 1) + 1)])"
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@register(
    "text_stats",
    f"""
    WITH t AS (SELECT doc_id, text, {TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(text) AS BIGINT) AS n_chars_text,
           floor((CAST(len(list_distinct(toks)) AS DOUBLE)
                 / nullif(len(toks), 0)) * 10000.0 + 0.5) / 10000.0 AS uniq_token_ratio,
           floor((CAST(len(list_filter(toks,
                   x -> list_contains({_sql_list(LANG_STOPWORDS["en"])}, lower(x))))
                 AS DOUBLE) / nullif(len(toks), 0)) * 10000.0 + 0.5) / 10000.0 AS stopword_ratio
    FROM t
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + repetition + stopword signals per document —
    pure Catalyst array expressions, no UDFs."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count(t).cast("long").alias("n_tokens"),
        F.length(t).cast("long").alias("n_chars_text"),
        round_portable(unique_token_ratio(t), 4).alias("uniq_token_ratio"),
        round_portable(stopword_ratio(t), 4).alias("stopword_ratio"),
    )


def _lang_id_oracle() -> str:
    langs = sorted(LANG_STOPWORDS)
    scores = ",\n           ".join(
        f"len(list_filter(toks, x -> list_contains({_sql_list(LANG_STOPWORDS[lg])}, x)))"
        f" AS s_{lg}"
        for lg in langs
    )
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    cases = "\n             ".join(
        f"WHEN s_{lg} = {best} THEN '{lg}'" for lg in langs
    )
    return f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_transform({TOKS}, x -> lower(x)) AS toks
      FROM documents),
    s AS (SELECT doc_id, lang,
           {scores}
          FROM t)
    SELECT doc_id, lang,
           CASE WHEN {best} <= 0 THEN 'und'
             {cases}
             ELSE 'und' END AS lang_pred
    FROM s
    """


@register("lang_id", _lang_id_oracle())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-hit argmax with deterministic
    tie order) next to the labeled lang for accuracy inspection. The
    lowercased token array is materialized once per row; the five
    per-language scores read the column, not a re-inlined split."""
    from air_quality_etl_pipeline_spark.functions.core import token_array
    from air_quality_etl_pipeline_spark.operators.text import (
        predicted_lang_of_tokens,
    )

    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn(
            "_toks", F.transform(token_array(F.col("text")), F.lower)
        )
        .select(
            "doc_id",
            "lang",
            predicted_lang_of_tokens(F.col("_toks")).alias("lang_pred"),
        )
    )


@register(
    "quality_score",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents)
    SELECT doc_id,
           floor((0.4 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
               + 0.3 * coalesce(CAST(len(list_distinct(toks)) AS DOUBLE)
                                / nullif(len(toks), 0), 0.0)
               + 0.3 * coalesce(CAST(len(list_filter(toks,
                     x -> list_contains({_sql_list(LANG_STOPWORDS["en"])}, lower(x))))
                     AS DOUBLE) / nullif(len(toks), 0), 0.0)) * 10000.0 + 0.5) / 10000.0 AS quality
    FROM t
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score (length/repetition/naturalness)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", round_portable(quality_score(F.col("text")), 4).alias("quality")
    )


@register(
    "curriculum_shards",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    q AS (SELECT doc_id,
           floor((0.4 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
               + 0.3 * coalesce(CAST(len(list_distinct(toks)) AS DOUBLE)
                                / nullif(len(toks), 0), 0.0)
               + 0.3 * coalesce(CAST(len(list_filter(toks,
                     x -> list_contains({_sql_list(LANG_STOPWORDS["en"])}, lower(x))))
                     AS DOUBLE) / nullif(len(toks), 0), 0.0)) * 10000.0 + 0.5) / 10000.0 AS quality
    FROM t),
    r AS (SELECT doc_id, quality,
                 row_number() OVER (ORDER BY quality DESC, doc_id ASC) AS rn
          FROM q)
    SELECT CAST((rn - 1) // 100 AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(rn) AS BIGINT) AS min_rank,
           CAST(max(rn) AS BIGINT) AS max_rank,
           CAST(sum(CAST(floor(quality * 10000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_quality_e4
    FROM r GROUP BY 1
    """,
)
def q_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered shard assignment — the export step of a
    quality-curriculum training run: rank the WHOLE corpus by the
    composite quality score (best first, doc_id tiebreak) and cut
    fixed-size shards of 100 documents, so shard 0 is the highest-
    quality slice a data loader feeds first. The corpus-sized global
    ranking runs on the bucketed two-phase
    :func:`~.operators.order_stats.with_global_rank` (never a global
    sort — the same primitive as the analytics family, keyed on the
    NEGATED score for descending order); per-shard quality mass sums
    the 4-dp scores in integer e4 micro-units, so the aggregate is
    exact, order-independent, and engine-portable (the result-type
    contract has no decimal lane — typealign.SPARK_TO_ARROW)."""
    from air_quality_etl_pipeline_spark.operators.order_stats import (
        with_global_rank,
    )

    d = _t(spark, sf_dir, "documents")
    q = d.select(
        "doc_id",
        round_portable(quality_score(F.col("text")), 4).alias("quality"),
    )
    ranked = with_global_rank(
        q,
        -F.col("quality"),
        [F.col("quality").desc(), F.col("doc_id").asc()],
        "rn",
    )
    return (
        ranked.withColumn(
            "shard", F.expr("(rn - 1) div 100").cast("long")
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("rn").cast("long").alias("min_rank"),
            F.max("rn").cast("long").alias("max_rank"),
            F.sum(
                F.floor(F.col("quality") * F.lit(10000.0) + F.lit(0.5))
                .cast("long")
            )
            .cast("long")
            .alias("sum_quality_e4"),
        )
    )


@register(
    "shuffle_shards_audit",
    """
    WITH d AS (
      SELECT doc_id,
             ('0x' || substr(md5('shuffle7:' || CAST(doc_id AS VARCHAR)),
              1, 15))::BIGINT AS draw
      FROM documents),
    r AS (SELECT doc_id,
                 row_number() OVER (ORDER BY draw ASC, doc_id ASC) AS rn
          FROM d)
    SELECT CAST((rn - 1) % 16 AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min((rn - 1) // 16) AS BIGINT) AS min_pos,
           CAST(max((rn - 1) // 16) AS BIGINT) AS max_pos,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
    FROM r GROUP BY 1
    """,
)
def q_shuffle_shards_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of the seeded global shuffle-to-shards layout
    (:func:`~.operators.sampling.seeded_shuffle`, the assignment
    behind :func:`~.sources.writers.write_shuffled_shards`): per
    shard, the document count (±1-balanced by the round-robin rank
    construction — asserted in tests/test_shuffle_shards.py), the
    within-shard position range (0-based, dense),
    and the membership checksum ``sum(doc_id)``. Because the draw is
    ``md5(seed:key)`` and the rank runs over ``(draw, key)``, the
    oracle recomputes the IDENTICAL assignment in SQL — determinism
    across engines is the whole point of the seeded construction.
    The global rank rides the bucketed two-phase ``with_global_rank``
    (no single-partition sort); everything after it is shard-keyed."""
    from air_quality_etl_pipeline_spark.operators.sampling import (
        seeded_shuffle,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")
    s = seeded_shuffle(d, "doc_id", 16, seed="shuffle7")
    return s.groupBy(F.col("shard")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("pos").cast("long").alias("min_pos"),
        F.max("pos").cast("long").alias("max_pos"),
        F.sum("doc_id").cast("long").alias("sum_doc_id"),
    )


@register(
    "bpe_token_count",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
                '{BPE_PRETOKEN_PATTERN.replace("'", "''")}'))
                AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: GPT-2-style pretokenizer matches
    (RE2-safe pattern so both engines' regex dialects agree)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", bpe_token_count(F.col("text")).cast("long").alias("n_bpe_tokens")
    )


@register(
    "text_scrub",
    f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '{URL_PATTERN}', '<URL>', 'g'),
                          '{EMAIL_PATTERN}', '<EMAIL>', 'g') AS clean_text
    FROM documents
    """,
)
def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/email scrubbing with placeholder tags — the minimal
    PII/noise pass before training; full-text output is hash-compared
    so the replacement semantics must match exactly."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", scrub_text(F.col("text")).alias("clean_text"))


@register(
    "text_scrub_pii",
    f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(text,
               '{URL_PATTERN}', '<URL>', 'g'),
               '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
               '{IPV6_PATTERN}', '<IP>', 'g'),
               '{IPV4_PATTERN}', '<IP>', 'g'),
               '{PHONE_PATTERN}', '<PHONE>', 'g'),
               '{ID_PATTERN}', '<ID>', 'g') AS clean_text
    FROM documents
    """,
)
def q_text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full C4/CCNet-style PII scrub: URL, email, IPv4/IPv6, phone
    numbers, SSN-shaped and ≥9-digit ID runs, each to a typed
    placeholder (:func:`~.operators.text.scrub_text_pii` — the
    pattern order is part of the contract and documented there).
    Full-text output is hash-compared cross-engine, so every pattern
    is RE2-safe and the replacement chain is identical on both sides;
    boundary behavior (digits embedded in words untouched) is pinned
    by tests/test_text_similarity_ops.py. Six scan-local regex
    passes — no shuffle, no UDF."""
    from air_quality_etl_pipeline_spark.operators.text import (
        scrub_text_pii,
    )

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", scrub_text_pii(F.col("text")).alias("clean_text")
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    """
    SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint,
           min(doc_id) AS keeper_id,
           count(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint: hash-groupBy, min-id survivor."""
    d = _t(spark, sf_dir, "documents")
    return exact_dup_groups(d, "doc_id")


def _char_verify_minhash_oracle(
    num_hashes: int = 8,
    bands: int = 4,
    thr: float = 0.8,
    word_n: int = 5,
    char_n: int = 3,
) -> str:
    rows = num_hashes // bands
    sig = ",\n           ".join(
        f"list_min(list_transform(s, x -> "
        f"substr(md5('{i}:' || x), 1, 15))) AS h{i}"
        for i in range(num_hashes)
    )
    band_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band_idx, md5(concat_ws(','"
        + "".join(f", h{b * rows + r}" for r in range(rows))
        + ")) AS band_hash FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    wsh AS (SELECT doc_id, {_word_shingles_sql(word_n)} AS s FROM t),
    csh AS (SELECT doc_id, {_shingles_sql(n=char_n)} AS c FROM documents),
    sig AS (SELECT doc_id,
           {sig}
        FROM wsh),
    banded AS (
      {band_rows}
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id),
    verified AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(a.c, b.c)) AS DOUBLE)
             / (len(a.c) + len(b.c) - len(list_intersect(a.c, b.c)))
               AS jaccard
      FROM cands JOIN csh a ON a.doc_id = cands.id_a
                 JOIN csh b ON b.doc_id = cands.id_b)
    SELECT id_a, id_b, floor((jaccard) * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM verified WHERE jaccard >= {thr}
    """


@register("dedup_ngram_jaccard", _char_verify_minhash_oracle())
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by char-3-gram Jaccard ≥ 0.8: candidates come
    from word-5-gram MinHash(8)+4-band LSH, verification applies the
    char-gram metric exactly. The candidate metric and the verify
    metric are deliberately DIFFERENT — a measured necessity on this
    corpus, where every doc draws from one tiny vocabulary:

    * block self-join (quadratic in ~1 k-doc language blocks): ~360 s
      at sf0.1 — 2.5 M intersect/unions;
    * exact PPJoin prefix filtering (operators/dedup.
      ngram_jaccard_pairs): ~23 s — even each doc's RAREST 3-grams
      occur in hundreds of documents, so prefix buckets stay fat;
    * char-3-gram MinHash banding: the unrelated-pair similarity
      floor is ~0.5, so 2-row bands collide on nearly every pair —
      candidate space explodes;
    * word-5-gram MinHash banding (this query): word shingles are
      specific (floor ≈ 0), candidates are near-linear, and true
      clones share them — ~2 s, same 6 verified pairs at sf0.01 the
      exact methods find within blocks, plus cross-language ones.

    md5-salted hashing makes the buckets — and so the result set —
    bit-identical in the oracle."""
    from air_quality_etl_pipeline_spark.functions.core import char_shingles
    from air_quality_etl_pipeline_spark.operators.dedup import (
        collapse_exact_clones,
        jaccard_join_back,
        minhash_lsh_candidates,
    )

    d = _t(spark, sf_dir, "documents")
    # Exact→near cascade (Lee et al. §4): every stage below depends
    # only on the text, so run it once per DISTINCT content and expand
    # pairs through the clone groups at the end. Result-identical:
    # clones share signatures (so candidacy transfers member-to-member
    # unchanged) and identical shingle sets give intra-group pairs
    # jaccard exactly 1.0 ≥ 0.8 (char_shingles is never empty). On the
    # sf1 clone-replica stress this was THE super-linear query (11.9×
    # at 10× data); collapsed, the heavy stages are distinct-text-sized
    # and only the irreducible output expansion scales with clones.
    members, reps = collapse_exact_clones(d, "doc_id")
    _, cands = minhash_lsh_candidates(
        reps, "doc_id", "text", n=5, num_hashes=8, bands=4
    )
    # shingle ONLY the candidate docs: char_shingles' array_distinct is
    # O(len²) per row and costs ~2 s over the full sf0.1 corpus, while
    # LSH leaves a few hundred docs to verify — the semi-join makes the
    # verify stage candidate-sized instead of corpus-sized (measured
    # 2.9 s → 1.1 s end-to-end). The pair set feeds the id semi-join
    # and the verify join, whose pushed-down key filters keep AQE from
    # reusing the band self-join across them: it is materialized
    # (cache-cleared at sf0.1, build + cold 8.5 s lazy vs 7.2 s)
    cands = materialize(cands)
    cand_ids = (
        cands.select(F.col("id_a").alias("doc_id"))
        .union(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    csh = (
        d.join(F.broadcast(cand_ids), on="doc_id", how="left_semi")
        .select(
            F.col("doc_id").alias("_id"),
            char_shingles(F.col("text"), 3).alias("_sh"),
        )
    )
    verified = jaccard_join_back(cands, csh, csh, 0.8)
    rep_pairs = verified.withColumn(
        "jaccard", round_portable(F.col("jaccard"), 4)
    )
    # Expand representative pairs to member pairs. Cross-group: every
    # (a ∈ G₁, b ∈ G₂) combination inherits the groups' jaccard
    # (identical texts ⇒ identical shingle sets); least/greatest
    # restores the id_a < id_b orientation. Intra-group: all member
    # pairs of a clone group are exact dups — jaccard exactly 1.0.
    ma = members.select(
        F.col("_rep").alias("id_a"), F.col("doc_id").alias("_a")
    )
    mb = members.select(
        F.col("_rep").alias("id_b"), F.col("doc_id").alias("_b")
    )
    cross = (
        rep_pairs.join(ma, on="id_a")
        .join(mb, on="id_b")
        .select(
            F.least("_a", "_b").alias("id_a"),
            F.greatest("_a", "_b").alias("id_b"),
            "jaccard",
        )
    )
    x, y = members.alias("x"), members.alias("y")
    intra = x.join(
        y,
        (F.col("x._fp") == F.col("y._fp"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    ).select(
        F.col("x.doc_id").alias("id_a"),
        F.col("y.doc_id").alias("id_b"),
        F.lit(1.0).alias("jaccard"),
    )
    return cross.unionByName(intra)



def _minhash_oracle(
    num_hashes: int = 8,
    bands: int = 4,
    thr: float = 0.7,
    n: int = 5,
    family: str = "md5",
) -> str:
    from air_quality_etl_pipeline_spark.functions.core import (
        MINHASH_P31,
        affine_coeffs,
    )

    rows = num_hashes // bands
    if family == "md5_affine":
        # one md5 per shingle; k Carter-Wegman affine rehashes of its
        # low 30 bits — mirrors functions.core.affine_coeffs exactly
        b30 = "(('0x' || substr(md5(x), 1, 15))::BIGINT % 1073741824)"
        sig = ",\n           ".join(
            "list_min(list_transform(s, x -> "
            f"({a} * {b30} + {c}) % {MINHASH_P31})) AS h{i}"
            for i, (a, c) in (
                (j, affine_coeffs(j)) for j in range(num_hashes)
            )
        )
    else:
        # fixed-width lowercase hex: lexicographic min ≡ numeric min,
        # matching the Spark side's decode-free md5_hex15 hash family.
        sig = ",\n           ".join(
            f"list_min(list_transform(s, x -> "
            f"substr(md5('{i}:' || x), 1, 15))) AS h{i}"
            for i in range(num_hashes)
        )
    band_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band_idx, md5(concat_ws(','"
        + "".join(f", h{b * rows + r}" for r in range(rows))
        + ")) AS band_hash FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_word_shingles_sql(n)} AS s FROM t),
    sig AS (SELECT doc_id,
           {sig}
        FROM sh),
    banded AS (
      {band_rows}
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id),
    verified AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(a.s || b.s)) AS jaccard
      FROM cands JOIN sh a ON a.doc_id = cands.id_a
                 JOIN sh b ON b.doc_id = cands.id_b)
    SELECT id_a, id_b, floor((jaccard) * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM verified WHERE jaccard >= {thr}
    """


@register("dedup_minhash_lsh", _minhash_oracle(family="md5_affine"))
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8) + 4-band LSH over word-5-gram shingles, candidates
    verified with true Jaccard ≥ 0.7 via join-back to the shingle sets.
    The bucket join replaces the all-pairs product; the hash family is
    the one-md5 affine one (functions.core.affine_coeffs) — same recall
    behavior as k independent md5s, ~8× less hashing in the signature
    scan."""
    d = _t(spark, sf_dir, "documents")
    out = minhash_lsh_pairs(
        d,
        "doc_id",
        "text",
        n=5,
        num_hashes=8,
        bands=4,
        threshold=0.7,
        hash_family="md5_affine",
    )
    return out.withColumn("jaccard", round_portable(F.col("jaccard"), 4))


@register(
    "simhash_values",
    """
    WITH toks AS (
      SELECT doc_id, unnest(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
             ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tok
      FROM documents WHERE doc_id < 64),
    h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
    votes AS (
      SELECT doc_id, b.bit,
             sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS votes
      FROM h, (SELECT unnest(range(0, 32)) AS bit) b
      GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(CASE WHEN votes > 0 THEN (CAST(1 AS BIGINT) << bit)
                    ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def q_simhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32-bit) values themselves (first 64 docs) — validates the
    relational explode→vote→bit-pack pipeline bit-for-bit."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    return simhash_bits(d, "doc_id", "text", bits=32)


#: DuckDB CTE chain producing the 48-bit/Hamming≤3 SimHash near-dup
#: pair set as ``sim_pairs(id_a, id_b, hamming)`` — shared between the
#: dedup_simhash oracle and the dedup_clusters oracle (workload_curation),
#: so both engines resolve clusters over the exact same edge set.
SIMHASH_PAIRS_CTES = """
    toks AS (
      SELECT doc_id, lang, unnest(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
             ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tok
      FROM documents),
    h AS (SELECT doc_id, lang, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
    votes AS (
      SELECT doc_id, lang, b.bit,
             sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS votes
      FROM h, (SELECT unnest(range(0, 48)) AS bit) b
      GROUP BY 1, 2, 3),
    sh AS (
      SELECT doc_id, lang,
             sum(CASE WHEN votes > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
               AS simhash
      FROM votes GROUP BY doc_id, lang),
    sim_pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)"""


@register(
    "dedup_simhash",
    f"""
    WITH {SIMHASH_PAIRS_CTES}
    SELECT id_a, id_b, hamming FROM sim_pairs
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(48-bit) near-dup pairs: Hamming ≤ 3 within language
    blocks (Manku-style k=3; 48 bits separates same-vocabulary noise —
    at 32 bits the Hamming histogram of unrelated pairs reaches down
    to ≤3)."""
    d = _t(spark, sf_dir, "documents")
    out = simhash_pairs(
        d, "doc_id", "text", bits=48, max_hamming=3, block_cols=["lang"]
    )
    return out.withColumn("hamming", F.col("hamming").cast("long"))


@register(
    "corpus_composition",
    f"""
    WITH t AS (SELECT source, lang, {TOKS} AS toks FROM documents)
    SELECT source, lang,
           count(*) AS n_docs,
           CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
           floor((CAST(sum(len(toks)) AS DOUBLE) / count(*)) * 10000.0 + 0.5)
             / 10000.0 AS avg_tokens
    FROM t GROUP BY 1, 2
    """,
)
def q_corpus_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report: per (source, language) document and
    token volumes — the first table any dataset card or sampling-weight
    computation needs."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return (
        d.select("source", "lang", token_count(t).alias("_n"))
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_n").cast("long").alias("total_tokens"),
            round_portable(
                F.sum("_n").cast("double") / F.count("*"), 4
            ).alias("avg_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_COS = (
    "list_sum(list_transform(range(1, 65), i -> qv[i] * cv[i])) / "
    "(sqrt(list_sum(list_transform(qv, x -> x * x))) * "
    "sqrt(list_sum(list_transform(cv, x -> x * x))))"
)

_BUCKET = (
    "concat("
    + ", ".join(
        f"CASE WHEN embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END" for i in range(6)
    )
    + ")"
)


@register(
    "ann_cosine_topk",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    scored AS (
      SELECT query_id, e.vec_id AS neighbor_id,
             floor(({_COS.replace("cv", "e.v")}) * 1000000.0 + 0.5) / 1000000.0 AS cosine
      FROM q, e WHERE e.vec_id <> query_id)
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for 8 query vectors: broadcast
    queries ⨯ one corpus scan, JVM-side fold arithmetic."""
    e = _t(spark, sf_dir, "embeddings")
    out = cosine_topk(e, e.filter(F.col("vec_id") < 8), k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


@register(
    "hard_negative_mining",
    f"""
    WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                      CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS query_label, v AS qv
          FROM e WHERE vec_id < 8),
    scored AS (
      SELECT query_id, query_label, e.vec_id AS neighbor_id,
             e.label AS neighbor_label,
             floor(({_COS.replace("cv", "e.v")}) * 1000000.0 + 0.5)
               / 1000000.0 AS cosine
      FROM q, e WHERE e.label <> query_label)
    SELECT query_id, query_label, neighbor_id, neighbor_label, cosine,
           CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the 5 most-cosine-similar corpus vectors with a DIFFERENT label —
    broadcast queries, one corpus scan, label filter before ranking.
    See operators.similarity.hard_negatives."""
    from air_quality_etl_pipeline_spark.operators.similarity import (
        hard_negatives,
    )

    e = _t(spark, sf_dir, "embeddings").withColumn(
        "label", F.col("label").cast("long")
    )
    return hard_negatives(e, e.filter(F.col("vec_id") < 8), k=5)


def _sign_lsh_oracle(bits: int = 6, tables: int = 4, k: int = 5) -> str:
    def bucket(col: str, t: int) -> str:
        return (
            "concat("
            + ", ".join(
                f"CASE WHEN {col}[{t * bits + i + 1}] >= 0 THEN '1' ELSE '0' END"
                for i in range(bits)
            )
            + ")"
        )

    legs = "\n      UNION ALL\n      ".join(
        f"SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id "
        f"FROM q JOIN e ON {bucket('q.v', t)} = {bucket('e.v', t)} "
        f"AND e.vec_id <> q.vec_id"
        for t in range(tables)
    )
    cos = _COS.replace("qv", "qe.v").replace("cv", "ne.v")
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id, v FROM e WHERE vec_id < 8),
    cand AS (
      SELECT DISTINCT query_id, neighbor_id FROM (
      {legs}
      )),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             floor(({cos}) * 1000000.0 + 0.5) / 1000000.0 AS cosine
      FROM cand c JOIN e qe ON qe.vec_id = c.query_id
                  JOIN e ne ON ne.vec_id = c.neighbor_id)
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
    WHERE rank <= {k}
    """


@register("ann_sign_lsh_topk", _sign_lsh_oracle())
def q_ann_sign_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5: MULTI-TABLE sign LSH (4 tables × 6 sign bits
    on disjoint dimension slices), union of bucket joins, exact cosine
    on the deduplicated candidates — single-table recall is poor (a
    true neighbor is lost by one flipped sign), L tables decay the miss
    probability geometrically."""
    e = _t(spark, sf_dir, "embeddings")
    out = sign_lsh_topk(
        e, e.filter(F.col("vec_id") < 8), k=5, bits=6, tables=4
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


#: inline ⌊√N⌋ stride for auto-sized IVF oracles — the exact SQL twin
#: of operators.similarity.balanced_stride (isqrt == floor(sqrt), the
#: agreement is pinned in tests/test_ann_recall.py)
_AUTO_STRIDE_SQL = (
    "(SELECT GREATEST(1, CAST(floor(sqrt(COUNT(*))) AS BIGINT)) "
    "FROM embeddings)"
)


def _ivf_oracle(
    stride: int | str = 128,
    nprobe: int = 2,
    k: int = 5,
    query_pred: str = "q.vec_id < 8",
) -> str:
    def cos(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i])) / "
            f"(sqrt(list_sum(list_transform({a}, x -> x * x))) * "
            f"sqrt(list_sum(list_transform({b}, x -> x * x))))"
        )

    def r6(x: str) -> str:
        return f"floor(({x}) * 1000000.0 + 0.5) / 1000000.0"

    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % {stride} = 0),
    assign AS (
      SELECT vec_id AS neighbor_id, v AS nv, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {r6(cos('e.v', 'c.cv'))} DESC, c.cid ASC) AS rn
        FROM e, cent c) WHERE rn = 1),
    probes AS (
      SELECT query_id, qv, cid FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, c.cid,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {r6(cos('q.v', 'c.cv'))} DESC, c.cid ASC) AS rn
        FROM e q, cent c WHERE {query_pred}) WHERE rn <= {nprobe}),
    scored AS (
      SELECT query_id, neighbor_id, {r6(cos('p.qv', 'a.nv'))} AS cosine
      FROM probes p JOIN assign a
        ON p.cid = a.cid AND a.neighbor_id <> p.query_id)
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored) WHERE rank <= {k}
    """


@register(
    "ann_ivf_bucketed_batch",
    _ivf_oracle(k=3, query_pred="TRUE"),
)
def q_ann_ivf_bucketed_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-kNN graph (top-3 neighbors for EVERY vector) over a
    persisted inverted file BUCKETED BY centroid id — the
    amortized-index pattern SCALE.md's IVF note names for 100 TB: the
    list relation is written once as a bucketed managed table, and the
    probe batch joins it on ``cid`` with no exchange on the index side
    (plan-asserted in tests/test_bucketed_join.py; the join is hinted
    SHUFFLE_HASH because the whole corpus is the query batch — the
    regime where broadcasting probes stops being an option). Same
    centroids, assignment tie-breaks, and rounded-cosine semantics as
    ``ann_ivf_topk``, so the oracle is the same SQL with the query
    predicate opened up. The self-kNN graph is the input for
    graph-based clustering, SemDeDup-style pruning, and hard-negative
    mining. WRITE side effect (SIDE_EFFECT_QUERIES): the build runs the
    index write, so ``prepared`` rebuilds it per call."""
    import os as _os

    from air_quality_etl_pipeline_spark.operators.similarity import (
        ivf_batch_knn_bucketed,
    )

    e = _t(spark, sf_dir, "embeddings")
    out = ivf_batch_knn_bucketed(
        e,
        f"ivf_lists_{_os.getpid()}",
        k=3,
        centroid_stride=128,
        nprobe=2,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def _incremental_dedup_oracle(
    num_hashes: int = 8,
    bands: int = 4,
    thr: float = 0.7,
    n: int = 5,
    corpus_pct: int = 80,
) -> str:
    """Cross-relation twin of the dedup_minhash_lsh oracle: documents
    split by the deterministic sample bucket into corpus (< pct) and
    incoming batch (>= pct); signatures per side; band join ACROSS the
    sides only; word-shingle Jaccard verify; then one row per incoming
    doc with its dup verdict."""
    rows = num_hashes // bands
    bucket = (
        "(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15))"
        "::BIGINT % 100)"
    )
    sig = ",\n           ".join(
        f"list_min(list_transform(s, x -> "
        f"substr(md5('{i}:' || x), 1, 15))) AS h{i}"
        for i in range(num_hashes)
    )

    def banded(src: str) -> str:
        return "\n      UNION ALL\n      ".join(
            f"SELECT doc_id, {b} AS band_idx, md5(concat_ws(','"
            + "".join(f", h{b * rows + r}" for r in range(rows))
            + f")) AS band_hash FROM {src}"
            for b in range(bands)
        )

    return f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks,
                      {bucket} >= {corpus_pct} AS incoming
               FROM documents),
    sh AS (SELECT doc_id, incoming, {_word_shingles_sql(n)} AS s FROM t),
    sig_new AS (SELECT doc_id, s,
           {sig}
        FROM sh WHERE incoming),
    sig_old AS (SELECT doc_id, s,
           {sig}
        FROM sh WHERE NOT incoming),
    banded_new AS (
      {banded('sig_new')}
    ),
    banded_old AS (
      {banded('sig_old')}
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
      FROM banded_new a JOIN banded_old b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash),
    verified AS (
      SELECT new_id, corpus_id,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(a.s || b.s)) AS jaccard
      FROM cands JOIN sig_new a ON a.doc_id = cands.new_id
                 JOIN sig_old b ON b.doc_id = cands.corpus_id),
    hits AS (
      SELECT new_id, CAST(count(*) AS BIGINT) AS n_matches,
             floor(max(jaccard) * 10000.0 + 0.5) / 10000.0 AS best_jaccard
      FROM verified WHERE jaccard >= {thr} GROUP BY new_id)
    SELECT t.doc_id AS new_id,
           h.new_id IS NOT NULL AS is_dup,
           CAST(coalesce(h.n_matches, 0) AS BIGINT) AS n_matches,
           h.best_jaccard
    FROM t LEFT JOIN hits h ON h.new_id = t.doc_id
    WHERE t.incoming
    """


@register("dedup_incremental_batch", _incremental_dedup_oracle())
def q_dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the continuous-ingestion shape every
    production corpus pipeline runs: screen an incoming batch (the
    deterministic ~20 % sample bucket of `documents`) against the
    existing corpus (the other ~80 %) with MinHash(8) + 4-band LSH
    over word-5-gram shingles, verify candidates with true Jaccard ≥
    0.7, and emit one verdict row per incoming document (is_dup,
    match count, best similarity). The band join is new×corpus ONLY —
    no self-join, corpus rows are never compared to each other — and
    at 100 TB the corpus-side band relation is the narrow append-only
    thing a pipeline persists between batches
    (operators/dedup.minhash_lsh_pairs_between)."""
    from air_quality_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs_between,
    )
    from air_quality_etl_pipeline_spark.operators.sampling import (
        sample_bucket,
    )

    d = _t(spark, sf_dir, "documents")
    bucket = sample_bucket(F.col("doc_id"))
    corpus = d.filter(bucket < 80)
    incoming = d.filter(bucket >= 80)
    pairs = minhash_lsh_pairs_between(
        incoming, corpus, "doc_id", "text", n=5, num_hashes=8, bands=4,
        threshold=0.7,
    )
    hits = pairs.groupBy("new_id").agg(
        F.count("*").cast("long").alias("n_matches"),
        round_portable(F.max("jaccard"), 4).alias("best_jaccard"),
    )
    return (
        incoming.select(F.col("doc_id").alias("new_id"))
        .join(hits, "new_id", "left")
        .select(
            "new_id",
            F.col("n_matches").isNotNull().alias("is_dup"),
            F.coalesce(F.col("n_matches"), F.lit(0))
            .cast("long")
            .alias("n_matches"),
            "best_jaccard",
        )
    )


@register("ann_ivf_topk", _ivf_oracle())
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic coarse centroids → inverted-list
    assignment → nprobe=2 probe join → exact cosine within the probed
    lists. The scale path where the corpus is partitioned by centroid."""
    e = _t(spark, sf_dir, "embeddings")
    out = ivf_topk(
        e,
        e.filter(F.col("vec_id") < 8),
        k=5,
        centroid_stride=128,
        nprobe=2,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@register("ann_ivf_topk_auto", _ivf_oracle(stride=_AUTO_STRIDE_SQL))
def q_ann_ivf_topk_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN at the √N-balanced DEFAULT (r13, verdict #1): no stride
    literal anywhere — the operator auto-sizes the coarse quantizer to
    ⌊√N⌋ from a corpus count (similarity.balanced_stride), keeping
    nlist ≈ √N so assignment work is N^1.5 at any scale; the oracle
    computes the SAME stride inline from COUNT(*). Same routing,
    tie-break, and rounded-cosine semantics as ``ann_ivf_topk``."""
    e = _t(spark, sf_dir, "embeddings")
    out = ivf_topk(
        e, e.filter(F.col("vec_id") < 8), k=5, nprobe=2
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@register(
    "embedding_near_dup",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {_BUCKET} AS bucket
               FROM embeddings)
    SELECT id_a, id_b, cosine FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             floor(({_COS.replace("qv", "a.v").replace("cv", "b.v")}) * 1000000.0 + 0.5) / 1000000.0 AS cosine
      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    WHERE cosine >= 0.4
    """,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within LSH buckets (cos ≥ 0.4)."""
    e = _t(spark, sf_dir, "embeddings")
    return cosine_pairs(e, threshold=0.4, bits=6)


@register(
    "label_centroids",
    """
    SELECT CAST(label AS BIGINT) AS label,
           CAST(i.i AS BIGINT) AS dim,
           CAST(sum(CAST(floor(CAST(embedding[i.i] AS DOUBLE) * 1000000.0 + 0.5)
                    AS BIGINT)) AS BIGINT) AS sum_micro,
           count(*) AS n_vectors
    FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
    GROUP BY 1, 2
    """,
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid sums via applyInPandas + numpy (the grouped-
    map path: one Arrow batch per label, BLAS-style column sums).
    Integer micro-unit accumulation makes the Python path exactly
    reproducible by the SQL oracle — see
    operators/similarity.label_centroid_micro."""
    e = _t(spark, sf_dir, "embeddings")
    return label_centroid_micro(e)


@register(
    "embedding_normalize",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm, v
          FROM e)
    SELECT vec_id,
           floor((nrm) * 1000000.0 + 0.5) / 1000000.0 AS norm_before,
           floor((sqrt(list_sum(list_transform(
                 list_transform(v, x -> x / nrm), x -> x * x)))) * 1000000.0 + 0.5)
             / 1000000.0 AS norm_after
    FROM n
    """,
)
def q_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization of the embedding column (the prep step before
    cosine = dot): emits pre/post norms; post must be exactly 1 at 6dp.
    JVM-side array arithmetic, no UDF."""
    from air_quality_etl_pipeline_spark.functions.core import l2_norm

    e = _t(spark, sf_dir, "embeddings")
    # norm materialized as a column BEFORE the divide-transform: a
    # lambda body referencing the aggregate-fold expression would nest
    # lambdas (wrong results — see minhash_signatures) and re-evaluate
    # the norm per element (no CSE in lambda bodies).
    staged = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_v")
    ).withColumn("_nrm", l2_norm(F.col("_v")))
    normalized = F.transform(F.col("_v"), lambda x: x / F.col("_nrm"))
    return staged.select(
        "vec_id",
        round_portable(F.col("_nrm"), 6).alias("norm_before"),
        round_portable(l2_norm(normalized), 6).alias("norm_after"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

@register(
    "multimodal_decode_meta",
    """
    WITH g AS (SELECT doc_id,
                      8 + doc_id % 5 AS w,
                      6 + doc_id % 4 AS h,
                      2 + doc_id % 9 AS n
               FROM documents)
    SELECT doc_id,
           CAST(244 + n * (24 + (w * 3 + 3) // 4 * 4 * h) AS BIGINT)
             AS byte_len,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(n AS BIGINT) AS n_frames
    FROM g
    """,
)
def q_multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container header decode: synthesize an uncompressed
    RIFF/AVI per document (real avih/strh/strf headers, JUNK padding,
    movi DIB frames, idx1 index), walk it back with the pure-Python
    chunk-tree parser in ``operators/multimodal.py``, and report the
    PARSED width/height/frame-count plus the container byte length.
    The oracle recomputes all four from the synthesis closed forms —
    including the exact container size ``244 + n·(24 + stride·h)`` —
    so any header-layout, LIST-nesting or chunk-size bug mismatches.
    Replaced the round-≤7 stub formulas (the last fake in the repo).

    Scale: two Arrow-batched ``mapInPandas`` passes, zero shuffles."""
    d = _t(spark, sf_dir, "documents")
    return multimodal.decode_meta(multimodal.synth_video_payload(d))


@register(
    "multimodal_frame_sample",
    """
    WITH g AS (SELECT doc_id, 2 + doc_id % 9 AS n FROM documents)
    SELECT doc_id, CAST(i.i AS BIGINT) AS frame_idx
    FROM g, (SELECT unnest(range(0, 10)) AS i) i
    WHERE i.i < n AND i.i % 3 = 0
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling: one output row per every-3rd frame of each
    AVI payload — the one-to-many mapInPandas shape. The sampler walks
    the real movi chunk list and cross-checks the avih frame count, so
    the sampled indices come from the container, not a formula."""
    d = _t(spark, sf_dir, "documents")
    return multimodal.sample_frames(
        multimodal.synth_video_payload(d), stride=3
    ).select("doc_id", "frame_idx")


@register(
    "video_frame_stats",
    """
    WITH g AS (SELECT doc_id,
                      8 + doc_id % 5 AS w,
                      6 + doc_id % 4 AS h,
                      2 + doc_id % 9 AS n
               FROM documents),
    f AS (SELECT doc_id, w, h, CAST(i.i AS BIGINT) AS frame_idx
          FROM g, (SELECT unnest(range(0, 10)) AS i) i
          WHERE i.i < n AND i.i % 3 = 0)
    SELECT doc_id, frame_idx,
           CAST(list_sum(list_transform(range(0, w * h),
                p -> (doc_id * 7 + frame_idx * 11 + 3 * p) % 256))
             AS BIGINT) AS sum_r,
           CAST(list_sum(list_transform(range(0, w * h),
                p -> (doc_id * 7 + frame_idx * 11 + 3 * p + 1) % 256))
             AS BIGINT) AS sum_g,
           CAST(list_sum(list_transform(range(0, w * h),
                p -> (doc_id * 7 + frame_idx * 11 + 3 * p + 2) % 256))
             AS BIGINT) AS sum_b
    FROM f
    """,
)
def q_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END video decode: synthesize a real uncompressed
    RIFF/AVI per document, sample every 3rd frame, byte-decode ONLY
    the sampled frames' DIB data (bottom-up row flip, BGR→RGB, 4-byte
    stride un-padding), and aggregate per-frame channel sums from the
    DECODED tensors. The oracle recomputes the sums from the synthesis
    closed form ``rgb[f][j] = (id·7 + f·11 + j) mod 256`` — any
    chunk-walk, frame-ordering, row-flip, channel-swap or stride bug
    in packer or parser hash-mismatches. Same adversarial design as
    ``image_decode_channel_stats``/``audio_decode_stats``; with this
    the video family joins image and audio as real, not stubs.

    Scale: two Arrow-batched ``mapInPandas`` passes and a per-frame
    JVM array fold — zero shuffles; a compressed container would swap
    the parser body for the codec call with the plumbing unchanged."""
    d = _t(spark, sf_dir, "documents")
    frames = multimodal.sample_frames(
        multimodal.synth_video_payload(d), stride=3
    )
    px = F.col("pixels")
    idx = F.sequence(F.lit(0), F.size(px) - 1)

    def ch_sum(c: int) -> Column:
        masked = F.zip_with(
            px,
            idx,
            lambda v, i: F.when(i % 3 == F.lit(c), v).otherwise(
                F.lit(0).cast("long")
            ),
        )
        return F.aggregate(
            masked, F.lit(0).cast("long"), lambda acc, x: acc + x
        )

    return frames.select(
        "doc_id",
        "frame_idx",
        ch_sum(0).alias("sum_r"),
        ch_sum(1).alias("sum_g"),
        ch_sum(2).alias("sum_b"),
    )


@register(
    "image_decode_channel_stats",
    """
    WITH g AS (
      SELECT doc_id,
             8 + doc_id % 9 AS w,
             8 + doc_id % 7 AS h
      FROM documents)
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS fmt,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(list_sum(list_transform(range(0, w * h),
                p -> (doc_id * 7 + 3 * p) % 256)) AS BIGINT) AS sum_r,
           CAST(list_sum(list_transform(range(0, w * h),
                p -> (doc_id * 7 + 3 * p + 1) % 256)) AS BIGINT) AS sum_g,
           CAST(list_sum(list_transform(range(0, w * h),
                p -> (doc_id * 7 + 3 * p + 2) % 256)) AS BIGINT) AS sum_b
    FROM g
    """,
)
def q_image_decode_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END image decode: synthesize a real encoded image per
    document (PPM for even ids, padded bottom-up BGR 24-bit BMP for
    odd), byte-parse it back with the pure-Python decoders in
    ``operators/multimodal.py``, and aggregate per-channel pixel sums
    from the DECODED tensor.  The oracle recomputes the sums from the
    synthesis closed form ``pixel_byte[j] = (id·7 + j) mod 256`` — so
    any header-parse, row-flip, channel-swap or stride-padding bug in
    either codec hash-mismatches.  Replaces the round-6
    ``NotImplementedError`` stub (no PIL/ffmpeg in the container; the
    two uncompressed truecolor formats are decodable from first
    principles).

    Scale: two Arrow-batched ``mapInPandas`` passes (synth, decode) and
    a per-row JVM array aggregation — no shuffle at all; the channel
    sums fold over the pixel array with ``zip_with``/``aggregate``
    inside whole-stage codegen."""
    d = _t(spark, sf_dir, "documents")
    imgs = multimodal.decode_image(multimodal.synth_image_payload(d))
    px = F.col("pixels")
    idx = F.sequence(F.lit(0), F.size(px) - 1)

    def ch_sum(c: int) -> Column:
        masked = F.zip_with(
            px,
            idx,
            lambda v, i: F.when(i % 3 == F.lit(c), v).otherwise(
                F.lit(0).cast("long")
            ),
        )
        return F.aggregate(
            masked, F.lit(0).cast("long"), lambda acc, x: acc + x
        )

    return imgs.select(
        "doc_id",
        "fmt",
        "width",
        "height",
        ch_sum(0).alias("sum_r"),
        ch_sum(1).alias("sum_g"),
        ch_sum(2).alias("sum_b"),
    )


@register(
    "audio_decode_stats",
    """
    WITH g AS (
      SELECT doc_id,
             256 + doc_id % 128 AS n,
             8000 + (doc_id % 3) * 4000 AS rate
      FROM documents),
    s AS (
      SELECT doc_id, n, rate,
             list_transform(range(0, n),
                 j -> ((doc_id * 13 + j * 7) % 65536) - 32768) AS smp
      FROM g)
    SELECT doc_id,
           CAST(rate AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS n_channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST(list_sum(smp) AS BIGINT) AS sum_samples,
           CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT)
             AS peak_abs
    FROM s
    """,
)
def q_audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END audio decode: synthesize a real PCM WAV clip per
    document (RIFF container with a metadata LIST chunk the parser has
    to walk over, little-endian int16 data), byte-parse it back with
    the pure-Python WAV reader in ``operators/multimodal.py``, and
    aggregate per-clip sample stats from the DECODED tensor. The
    oracle recomputes the stats from the synthesis closed form
    ``s[j] = ((id·13 + j·7) mod 65536) − 32768`` — any chunk-walk,
    endianness or sign bug in either codec hash-mismatches. Together
    with ``image_decode_channel_stats`` this makes both multimodal
    column families (image + audio) real, not stubs.

    Scale: two Arrow-batched ``mapInPandas`` passes and a per-row JVM
    array fold — no shuffle; compressed audio would swap the parser
    body for the codec call with the plumbing unchanged."""
    d = _t(spark, sf_dir, "documents")
    clips = multimodal.decode_audio(multimodal.synth_audio_payload(d))
    smp = F.col("samples")
    return clips.select(
        "doc_id",
        "sample_rate",
        "n_channels",
        F.size(smp).cast("long").alias("n_samples"),
        F.aggregate(
            smp, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("sum_samples"),
        F.array_max(F.transform(smp, lambda x: F.abs(x))).alias(
            "peak_abs"
        ),
    )


# ---------------------------------------------------------------------------
# Fuzzy edit-distance dedup / repetition signals / int8 quantization
# ---------------------------------------------------------------------------

@register(
    "dedup_fuzzy_edit",
    f"""
    WITH {SIMHASH_PAIRS_CTES}
    SELECT p.id_a, p.id_b, levenshtein(a.text, b.text) AS edit_dist
    FROM sim_pairs p
    JOIN documents a ON a.doc_id = p.id_a
    JOIN documents b ON b.doc_id = p.id_b
    WHERE levenshtein(a.text, b.text) <= 80
    """,
)
def q_dedup_fuzzy_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs: SimHash bit-band LSH generates candidates
    (linear scan + near-linear band join), bounded ``levenshtein(l, r,
    k)`` (O(len·k) banded DP) verifies only those candidates.

    This composition is the scale-correct design for edit-distance
    dedup: the DP is the most expensive per-pair predicate in the
    toolbox, so it must never see the blocked pair space — an earlier
    revision ran it over (lang, source) blocks with length banding and
    took 18 s at sf0.1 where this takes ~1 s, and the gap widens
    quadratically with block size. ``operators/dedup.fuzzy_pairs``
    (blocking + length bands, no LSH) remains the right tool for SHORT
    strings (titles, names) where the DP is cheap."""
    from air_quality_etl_pipeline_spark.operators.dedup import simhash_pairs

    d = _t(spark, sf_dir, "documents")
    cands = simhash_pairs(
        d, "doc_id", "text", bits=48, max_hamming=3, block_cols=("lang",)
    )
    texts = d.select("doc_id", "text")
    return (
        cands.join(
            texts.select(
                F.col("doc_id").alias("id_a"), F.col("text").alias("ta")
            ),
            on="id_a",
        )
        .join(
            texts.select(
                F.col("doc_id").alias("id_b"), F.col("text").alias("tb")
            ),
            on="id_b",
        )
        .withColumn("edit_dist", F.levenshtein("ta", "tb", 80).cast("long"))
        .filter(F.col("edit_dist") >= 0)
        .select("id_a", "id_b", "edit_dist")
    )



@register(
    "doc_repetition",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, toks,
                 [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))] AS grams
          FROM t)
    SELECT doc_id,
           floor((1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                        / nullif(len(toks), 0)) * 10000.0 + 0.5) / 10000.0
             AS dup_word_frac,
           floor((CAST(list_max([len(list_filter(toks, x -> x = t2))
                                 for t2 in list_distinct(toks)]) AS DOUBLE)
                  / nullif(len(toks), 0)) * 10000.0 + 0.5) / 10000.0
             AS top_word_share,
           floor((1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                        / nullif(len(grams), 0)) * 10000.0 + 0.5) / 10000.0
             AS dup_bigram_frac
    FROM g
    """,
)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition filters (duplicate-word
    fraction, most-frequent-word share, duplicate-bigram fraction) —
    all row-local array expressions inside the scan, zero shuffles."""
    d = _t(spark, sf_dir, "documents")
    return repetition_stats(d).select(
        "doc_id", "dup_word_frac", "top_word_share", "dup_bigram_frac"
    )


@register(
    "embedding_quantize_int8",
    """
    WITH q AS (
      SELECT vec_id,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
               AS s,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings)
    SELECT vec_id,
           CAST(floor(s * 1000000.0 + 0.5) AS BIGINT) AS scale_micro,
           CAST(list_aggregate([CAST(floor(x / s * 127.0 + 0.5) AS BIGINT)
                                for x in v], 'sum') AS BIGINT) AS q_sum,
           CAST(list_min([CAST(floor(x / s * 127.0 + 0.5) AS BIGINT)
                          for x in v]) AS BIGINT) AS q_min,
           CAST(list_max([CAST(floor(x / s * 127.0 + 0.5) AS BIGINT)
                          for x in v]) AS BIGINT) AS q_max
    FROM q WHERE s > 0
    """,
)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-abs int8 scalar quantization of the embedding corpus (the 4x
    ANN memory/bandwidth saver), verified through exact integer
    aggregates of the codes (sum/min/max per vector) plus the micro-unit
    scale — bit-identical across engines because rounding is
    floor(x+0.5), never engine round()."""
    e = _t(spark, sf_dir, "embeddings")
    qd = quantize_int8(e)
    return qd.filter(F.col("scale") > 0).select(
        "vec_id",
        F.floor(F.col("scale") * 1e6 + F.lit(0.5)).cast("long").alias("scale_micro"),
        F.aggregate(
            F.col("q"), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("q_sum"),
        F.array_min("q").cast("long").alias("q_min"),
        F.array_max("q").cast("long").alias("q_max"),
    )


@register(
    "kmeans_update_step",
    """
    WITH v AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
               FROM embeddings),
    c AS (SELECT vec_id AS cid, vv AS cv FROM v WHERE vec_id % 128 = 0),
    d AS (SELECT v.vec_id, c.cid,
                 floor(list_sum(list_transform(range(1, 65),
                       i -> (vv[i] - cv[i]) * (vv[i] - cv[i]))) * 1000000.0
                       + 0.5) / 1000000.0 AS dist
          FROM v, c),
    asn AS (SELECT vec_id, cid FROM (
              SELECT vec_id, cid,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY dist, cid) AS rn
              FROM d) WHERE rn = 1)
    SELECT a.cid, CAST(i.i AS BIGINT) AS dim,
           CAST(sum(CAST(floor(vv[i.i] * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_micro,
           count(*) AS n_points
    FROM asn a JOIN v USING (vec_id), (SELECT unnest(range(1, 65)) AS i) i
    GROUP BY 1, 2
    """,
)
def q_kmeans_update_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One relational Lloyd iteration over the embedding corpus:
    broadcast-centroid argmin assignment (min_by aggregate) + exact
    integer-micro centroid update sums. The oracle replays assignment
    with a ranking window and the update with an unnest-based sum."""
    e = _t(spark, sf_dir, "embeddings")
    return kmeans_update_step(e, centroid_stride=128)


_KM_D2 = (
    "CAST(floor(list_sum(list_transform(range(1, 65), "
    "i -> (vv[i] - cv[i]) * (vv[i] - cv[i]))) * 1000000.0 + 0.5) AS BIGINT)"
)
_KM_U = (
    "CAST(('0x' || substr(md5('km{r}:' || CAST(vec_id AS VARCHAR)), 1, 15))"
    "::BIGINT AS HUGEINT)"
)
_KM_2POW60 = "CAST(1152921504606846976 AS HUGEINT)"


@register(
    "kmeans_parallel_init",
    f"""
    WITH v AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
               FROM embeddings),
    c0 AS (SELECT vec_id AS cid, vv AS cv FROM v
           ORDER BY ('0x' || substr(md5('km0:' || CAST(vec_id AS VARCHAR)),
                     1, 15))::BIGINT, vec_id LIMIT 1),
    cost1 AS (SELECT v.vec_id, v.vv, min({_KM_D2}) AS cost
              FROM v, c0 GROUP BY 1, 2),
    phi1 AS (SELECT CAST(sum(cost) AS HUGEINT) AS phi FROM cost1),
    s1 AS (SELECT vec_id, vv FROM cost1, phi1
           WHERE {_KM_U.format(r=1)} * phi
               < CAST(8 AS HUGEINT) * cost * {_KM_2POW60}),
    cents1 AS (SELECT cid, cv FROM c0
               UNION ALL SELECT vec_id, vv FROM s1),
    cost2 AS (SELECT v.vec_id, v.vv, min({_KM_D2}) AS cost
              FROM v, cents1 GROUP BY 1, 2),
    phi2 AS (SELECT CAST(sum(cost) AS HUGEINT) AS phi FROM cost2),
    s2 AS (SELECT vec_id, vv FROM cost2, phi2
           WHERE {_KM_U.format(r=2)} * phi
               < CAST(8 AS HUGEINT) * cost * {_KM_2POW60}),
    cents2 AS (SELECT cid, cv FROM cents1
               UNION ALL SELECT vec_id, vv FROM s2),
    asn AS (SELECT vec_id, cid FROM (
              SELECT v.vec_id, c.cid,
                     row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY CAST(floor(list_sum(list_transform(
                         range(1, 65), i -> (v.vv[i] - c.cv[i])
                         * (v.vv[i] - c.cv[i]))) * 1000000.0 + 0.5) AS BIGINT),
                         c.cid) AS rn
              FROM v, cents2 c) WHERE rn = 1)
    SELECT cid AS vec_id, count(*) AS weight FROM asn GROUP BY 1
    """,
)
def q_kmeans_parallel_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means‖ (Bahmani) candidate sampling, hash-determinized: two
    oversampling rounds (ℓ=8) of cost-proportional selection with
    integer-exact sampling decisions, then per-candidate ownership
    weights. The oracle unrolls both rounds as CTEs and replays the
    integer sampling test in HUGEINT — bit-for-bit the same candidate
    set. (The reduction of candidates to k centers is driver-side
    deterministic greedy — see similarity.kmeans_parallel_init — and
    covered by pytest, not SQL.)"""
    e = _t(spark, sf_dir, "embeddings")
    return kmeans_parallel_candidates(e, rounds=2, oversample=8)


# ---------------------------------------------------------------------------
# Inverted-index multi-term search (retrieval primitive)
# ---------------------------------------------------------------------------

@register(
    "inverted_index_search",
    f"""
    WITH posting AS (
      SELECT DISTINCT doc_id, lower(t.tok) AS term
      FROM (SELECT doc_id, unnest({TOKS}) AS tok FROM documents) t),
    hits AS (
      SELECT doc_id, count(DISTINCT term) AS n_matched,
             count(*) AS tf_sum
      FROM (SELECT p.doc_id, p.term
            FROM posting p WHERE p.term IN ('key', 'hash', 'table')) q
      JOIN posting p2 USING (doc_id, term)
      GROUP BY doc_id)
    SELECT doc_id FROM hits WHERE n_matched = 3
    """,
)
def q_inverted_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) term search through an inverted index: the
    posting relation (term, doc) is the index — the query terms select
    their posting lists, and a doc matches when it appears in ALL of
    them (count of distinct matched terms = |query|). One explode +
    one aggregation; the posting build is the amortizable part — at
    100 TB it is written once (bucketed by term) and every search
    becomes a selective posting-list lookup instead of a corpus scan."""
    from air_quality_etl_pipeline_spark.functions.core import token_array

    terms = ["key", "hash", "table"]
    d = _t(spark, sf_dir, "documents")
    posting = (
        d.select(
            "doc_id",
            F.explode(token_array(F.col("text"))).alias("tok"),
        )
        .select("doc_id", F.lower("tok").alias("term"))
        .distinct()
    )
    hits = (
        posting.filter(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n_matched"))
    )
    return hits.filter(F.col("n_matched") == len(terms)).select("doc_id")


@register(
    "knn_classifier_eval",
    f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    nn AS (
      SELECT query_id, true_label, n_label FROM (
        SELECT q.vec_id AS query_id, q.label AS true_label,
               e.label AS n_label,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 floor((list_sum(list_transform(range(1, 65),
                         i -> q.v[i] * e.v[i]))
                        / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
                           * sqrt(list_sum(list_transform(e.v,
                               x -> x * x))))) * 1000000.0 + 0.5)
                   / 1000000.0 DESC,
                 e.vec_id ASC) AS rk
        FROM e q, e e
        WHERE q.vec_id < 8 AND e.vec_id <> q.vec_id) WHERE rk <= 5),
    votes AS (SELECT query_id, true_label, n_label,
                     CAST(count(*) AS BIGINT) AS n_votes
              FROM nn GROUP BY 1, 2, 3),
    best AS (SELECT query_id, true_label, n_label AS predicted, n_votes
             FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY n_votes DESC, n_label ASC) AS rk
                   FROM votes) WHERE rk = 1)
    SELECT query_id, CAST(true_label AS BIGINT) AS true_label,
           CAST(predicted AS BIGINT) AS predicted, n_votes,
           CAST(CASE WHEN predicted = true_label THEN 1 ELSE 0 END
                AS BIGINT) AS correct
    FROM best
    """,
)
def q_knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification eval: predict each held-out query vector's
    label by majority vote of its 5 nearest neighbors (cosine,
    rounded + id-tiebroken so the neighbor set is engine-exact; vote
    ties break to the lowest label) and score against the true label —
    the standard probe for "do these embeddings cluster by class".
    Composes the exact-scan ranking with two constant-sized
    aggregations; the corpus is read once per query batch."""
    from air_quality_etl_pipeline_spark.operators.similarity import (
        cosine_topk,
    )
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    nn = cosine_topk(e, q, k=5).select("query_id", "neighbor_id")
    labels = e.select("vec_id", F.col("label").cast("long").alias("lab"))
    truth = labels.select(
        F.col("vec_id").alias("query_id"),
        F.col("lab").alias("true_label"),
    )
    nl = labels.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("lab").alias("n_label"),
    )
    votes = (
        nn.join(F.broadcast(nl), on="neighbor_id")
        .join(F.broadcast(truth), on="query_id")
        .groupBy("query_id", "true_label", "n_label")
        .agg(F.count("*").cast("long").alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("n_label").asc()
    )
    best = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    return best.select(
        "query_id",
        "true_label",
        F.col("n_label").alias("predicted"),
        "n_votes",
        (F.col("n_label") == F.col("true_label"))
        .cast("long")
        .alias("correct"),
    )


@register(
    "keyword_extraction_topk",
    f"""
    WITH t AS (SELECT doc_id, list_transform({TOKS}, x -> lower(x)) AS toks
               FROM documents),
    terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM terms GROUP BY 1, 2),
    df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
           FROM terms GROUP BY 1),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
          FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(floor(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df)
                        * 1000000.0 + 0.5) AS BIGINT) AS score_micro
      FROM tf JOIN df USING (term), n)
    SELECT doc_id, term, score_micro, CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY score_micro DESC, term ASC) AS rk FROM scored)
    WHERE rk <= 3
    """,
)
def q_keyword_extraction_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 TF-IDF terms per doc —
    the tagging/routing signal (and the classic weak-label source) a
    corpus pipeline derives right after the TF-IDF vocabulary. Scores
    quantize to integer micro-units BEFORE the per-doc window, so the
    top-3 cut is engine-exact. The document-frequency relation is
    vocabulary-sized and joins the doc-term counts hash-partitioned on
    term; the rank window partitions by doc."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id",
        F.explode(
            F.transform(token_array(F.col("text")), lambda x: F.lower(x))
        ).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    df_ = terms.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    n = d.agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    scored = (
        tf.join(df_, on="term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.floor(
                F.col("tf")
                * F.ln(F.col("n_docs").cast("double") / F.col("df"))
                * 1000000.0
                + F.lit(0.5)
            )
            .cast("long")
            .alias("score_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "score_micro", "rank")
    )


@register(
    "text_char_entropy",
    """
    WITH c AS (SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS ch
               FROM documents WHERE length(text) > 0),
    f AS (SELECT doc_id, ch, count(*) AS cnt FROM c GROUP BY 1, 2),
    n AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars
          FROM f GROUP BY 1),
    term AS (
      SELECT f.doc_id, n.n_chars,
             CAST(CAST(f.cnt AS DOUBLE) / n.n_chars
                  * ln(CAST(f.cnt AS DOUBLE) / n.n_chars)
                  AS DECIMAL(18,12)) AS t
      FROM f JOIN n ON f.doc_id = n.doc_id)
    SELECT doc_id, n_chars,
           floor(-CAST(sum(t) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
             AS char_entropy
    FROM term GROUP BY 1, 2
    """,
)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the cheap
    randomness probe that separates natural text (~4.1 bits nats-wise)
    from base64 blobs, minified code, and key dumps; a standard
    pre-filter column next to the quality score. Per-character
    frequency terms quantize to DECIMAL(18,12) before the per-doc sum
    (order-independent); the histogram explode is the only data-sized
    relation and it partial-aggregates map-side."""
    d = _t(spark, sf_dir, "documents")
    c = d.filter(F.length("text") > 0).select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    )
    f = c.groupBy("doc_id", "ch").agg(F.count("*").alias("cnt"))
    n = f.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_chars")
    )
    p = F.col("cnt").cast("double") / F.col("n_chars")
    term = f.join(n, on="doc_id").select(
        "doc_id",
        "n_chars",
        (p * F.ln(p)).cast("decimal(18,12)").alias("t"),
    )
    return term.groupBy("doc_id", "n_chars").agg(
        round_portable(-F.sum("t").cast("double"), 6).alias(
            "char_entropy"
        )
    )


@register(
    "class_separability",
    """
    WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                      CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cs AS (SELECT label, i.i AS dim,
                  CAST(sum(CAST(floor(v[i.i] * 1000000.0 + 0.5)
                                AS BIGINT)) AS BIGINT) AS sum_micro,
                  CAST(count(*) AS BIGINT) AS n
           FROM e, (SELECT unnest(range(1, 65)) AS i) i
           GROUP BY 1, 2),
    cn AS (SELECT label, max(n) AS n FROM cs GROUP BY 1),
    cent AS (SELECT cs.label, cn.n,
                    list(CAST(cs.sum_micro AS DOUBLE) / cn.n / 1000000.0
                         ORDER BY cs.dim) AS c
             FROM cs JOIN cn ON cs.label = cn.label
             GROUP BY cs.label, cn.n),
    intra AS (
      SELECT CAST(sum(CAST(floor(list_sum(list_transform(range(1, 65),
               i -> (e.v[i] - ct.c[i]) * (e.v[i] - ct.c[i])))
               * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_d2,
             CAST(count(*) AS BIGINT) AS n_vec
      FROM e JOIN cent ct ON e.label = ct.label),
    inter AS (
      SELECT CAST(sum(CAST(floor(list_sum(list_transform(range(1, 65),
               i -> (a.c[i] - b.c[i]) * (a.c[i] - b.c[i])))
               * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_d2,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM cent a JOIN cent b ON a.label < b.label),
    nl AS (SELECT CAST(count(*) AS BIGINT) AS n_labels FROM cent)
    SELECT nl.n_labels,
           intra.sum_d2 // intra.n_vec AS intra_mean_micro,
           inter.sum_d2 // inter.n_pairs AS inter_mean_micro,
           floor((CAST(inter.sum_d2 AS DOUBLE) / inter.n_pairs)
                 / (CAST(intra.sum_d2 AS DOUBLE) / intra.n_vec)
                 * 1000000.0 + 0.5) / 1000000.0 AS separability
    FROM nl, intra, inter
    """,
)
def q_class_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space class separability: mean within-class squared
    distance to the class centroid vs mean between-centroid squared
    distance — the Fisher-style "do labels form clusters" probe that
    decides whether an embedding model is worth training a classifier
    on. Centroids come from the integer micro-unit sums of the
    grouped-map path (label_centroid_micro); every distance
    micro-quantizes before its sum, so both means are exact integer
    ratios. All post-centroid relations are label-sized."""
    from pyspark.sql import Window  # noqa: F401

    from air_quality_etl_pipeline_spark.operators.similarity import (
        label_centroid_micro,
    )

    e = _t(spark, sf_dir, "embeddings")
    cs = label_centroid_micro(e)
    cent = (
        cs.groupBy("label")
        .agg(
            F.max("n_vectors").alias("n"),
            F.array_sort(
                F.collect_list(F.struct("dim", "sum_micro"))
            ).alias("_s"),
        )
        .select(
            "label",
            "n",
            F.expr(
                "transform(_s, s -> CAST(s.sum_micro AS DOUBLE)"
                " / n / 1000000.0)"
            ).alias("c"),
        )
    )
    v = e.select(
        F.col("label").cast("long").alias("label"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    d2 = (
        "CAST(floor(aggregate(zip_with({a}, {b},"
        " (x, y) -> (x - y) * (x - y)), 0.0D, (acc, t) -> acc + t)"
        " * 1000000.0D + 0.5D) AS BIGINT)"
    )
    intra = (
        v.join(F.broadcast(cent), on="label")
        .select(F.expr(d2.format(a="v", b="c")).alias("dd"))
        .agg(
            F.sum("dd").cast("long").alias("sum_d2"),
            F.count("*").cast("long").alias("n_vec"),
        )
    )
    a = cent.select(
        F.col("label").alias("la"), F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("lb"), F.col("c").alias("cb")
    )
    inter = (
        a.join(b, F.col("la") < F.col("lb"))
        .select(F.expr(d2.format(a="ca", b="cb")).alias("dd"))
        .agg(
            F.sum("dd").cast("long").alias("sum_d2i"),
            F.count("*").cast("long").alias("n_pairs"),
        )
    )
    nl = cent.agg(F.count("*").cast("long").alias("n_labels"))
    return (
        nl.crossJoin(intra)
        .crossJoin(inter)
        .select(
            "n_labels",
            F.expr("sum_d2 div n_vec").alias("intra_mean_micro"),
            F.expr("sum_d2i div n_pairs").alias("inter_mean_micro"),
            round_portable(
                (F.col("sum_d2i").cast("double") / F.col("n_pairs"))
                / (F.col("sum_d2").cast("double") / F.col("n_vec")),
                6,
            ).alias("separability"),
        )
    )


# ---------------------------------------------------------------------------
# MMR diversified reranking
# ---------------------------------------------------------------------------

_MMR_COS_AB = _COS.replace("qv", "a.v").replace("cv", "b.v")
_MMR_COS_Q = _COS.replace("cv", "e.v")


@register(
    "mmr_diversified_rerank",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    cands AS (
      SELECT id, rel FROM (
        SELECT e.vec_id AS id,
               floor(({_MMR_COS_Q}) * 1000000.0 + 0.5) / 1000000.0 AS rel,
               row_number() OVER (ORDER BY
                 floor(({_MMR_COS_Q}) * 1000000.0 + 0.5) / 1000000.0 DESC,
                 e.vec_id ASC) AS rnk
        FROM e, q WHERE e.vec_id <> 0)
      WHERE rnk <= 20),
    cv AS (SELECT c.id, e.v FROM cands c JOIN e ON e.vec_id = c.id),
    pairs AS (
      SELECT a.id AS ia, b.id AS ib,
             floor(({_MMR_COS_AB}) * 1000000.0 + 0.5) / 1000000.0 AS sim
      FROM cv a, cv b WHERE a.id <> b.id),
    s1 AS (SELECT id, rel, 0.7 * rel AS mmr, CAST(1 AS BIGINT) AS rank
           FROM cands ORDER BY rel DESC, id ASC LIMIT 1),
    s2 AS (SELECT c.id, c.rel,
                  0.7 * c.rel - 0.3 * max(p.sim) AS mmr,
                  CAST(2 AS BIGINT) AS rank
           FROM cands c JOIN pairs p ON p.ia = c.id
           WHERE p.ib IN (SELECT id FROM s1)
             AND c.id NOT IN (SELECT id FROM s1)
           GROUP BY c.id, c.rel
           ORDER BY mmr DESC, c.id ASC LIMIT 1),
    s3 AS (SELECT c.id, c.rel,
                  0.7 * c.rel - 0.3 * max(p.sim) AS mmr,
                  CAST(3 AS BIGINT) AS rank
           FROM cands c JOIN pairs p ON p.ia = c.id
           WHERE p.ib IN (SELECT id FROM s1 UNION SELECT id FROM s2)
             AND c.id NOT IN (SELECT id FROM s1 UNION SELECT id FROM s2)
           GROUP BY c.id, c.rel
           ORDER BY mmr DESC, c.id ASC LIMIT 1),
    s4 AS (SELECT c.id, c.rel,
                  0.7 * c.rel - 0.3 * max(p.sim) AS mmr,
                  CAST(4 AS BIGINT) AS rank
           FROM cands c JOIN pairs p ON p.ia = c.id
           WHERE p.ib IN (SELECT id FROM s1 UNION SELECT id FROM s2
                          UNION SELECT id FROM s3)
             AND c.id NOT IN (SELECT id FROM s1 UNION SELECT id FROM s2
                              UNION SELECT id FROM s3)
           GROUP BY c.id, c.rel
           ORDER BY mmr DESC, c.id ASC LIMIT 1),
    s5 AS (SELECT c.id, c.rel,
                  0.7 * c.rel - 0.3 * max(p.sim) AS mmr,
                  CAST(5 AS BIGINT) AS rank
           FROM cands c JOIN pairs p ON p.ia = c.id
           WHERE p.ib IN (SELECT id FROM s1 UNION SELECT id FROM s2
                          UNION SELECT id FROM s3 UNION SELECT id FROM s4)
             AND c.id NOT IN (SELECT id FROM s1 UNION SELECT id FROM s2
                              UNION SELECT id FROM s3 UNION SELECT id FROM s4)
           GROUP BY c.id, c.rel
           ORDER BY mmr DESC, c.id ASC LIMIT 1)
    SELECT rank, id AS vec_id, rel AS relevance, mmr AS mmr_score
    FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
          UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
          UNION ALL SELECT * FROM s5)
    """,
)
def q_mmr_diversified_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein, SIGIR
    1998): from the exact cosine top-20 candidates for query vector 0,
    greedily select 5 results maximizing
    ``0.7·rel(d) − 0.3·max_{s∈S} sim(d, s)`` — the diversity-aware
    final stage of a retrieval stack (sits after `ann_*` candidate
    generation and beside `rerank_crossencoder_stub`).

    Engine reproducibility: relevance and pairwise similarities are
    6-decimal-rounded BEFORE selection, so both engines compare the
    same doubles and break score ties on vec_id; round 1's diversity
    term is 0 by convention (empty selected set).

    Scale: candidate generation is the broadcast-query corpus scan of
    :func:`~.operators.similarity.cosine_topk`; everything after runs
    on the BOUNDED candidate relation (20 rows, 380 pairs). The
    candidate and pair relations are materialized before the
    greedy rounds — the unrolled selection references them ~3x per
    round, and without the lineage cut Catalyst re-executes the
    corpus-scan subtree per reference (measured at sf1: 8.1 s lazy vs
    sub-second checkpointed), so the builder runs the candidate-
    generation jobs and ``prepared`` rebuilds it per call (bench
    samples pay that work honestly). Per-query candidate sets stay
    bounded at any corpus size; scaling to many queries =
    partitionBy(query_id) over the same bounded-per-query relation."""
    e = _t(spark, sf_dir, "embeddings")
    cands = materialize(
        cosine_topk(e, e.filter(F.col("vec_id") == 0), k=20).select(
            F.col("neighbor_id").alias("id"), F.col("cosine").alias("rel")
        )
    )
    cvecs = e.join(
        F.broadcast(cands.select("id")),
        e["vec_id"] == F.col("id"),
    ).select("vec_id", "embedding")
    pairs = materialize(
        cosine_topk(cvecs, cvecs, k=19).select(
            F.col("query_id").alias("ia"),
            F.col("neighbor_id").alias("ib"),
            F.col("cosine").alias("sim"),
        )
    )
    lam, mu = F.lit(0.7), F.lit(0.3)
    sel = (
        cands.orderBy(F.desc("rel"), F.asc("id"))
        .limit(1)
        .select(
            "id",
            "rel",
            (lam * F.col("rel")).alias("mmr"),
            F.lit(1).cast("long").alias("rank"),
        )
    )
    for t in range(2, 6):
        sel_ids = sel.select("id")
        maxsim = (
            pairs.join(
                F.broadcast(sel_ids.withColumnRenamed("id", "ib")), "ib"
            )
            .groupBy("ia")
            .agg(F.max("sim").alias("ms"))
        )
        rem = cands.join(F.broadcast(sel_ids), "id", "left_anti")
        pick = (
            rem.join(maxsim, rem["id"] == maxsim["ia"])
            .select(
                "id",
                "rel",
                (lam * F.col("rel") - mu * F.col("ms")).alias("mmr"),
            )
            .orderBy(F.desc("mmr"), F.asc("id"))
            .limit(1)
            .withColumn("rank", F.lit(t).cast("long"))
        )
        sel = sel.unionByName(pick)
    return sel.select(
        "rank",
        F.col("id").alias("vec_id"),
        F.col("rel").alias("relevance"),
        F.col("mmr").alias("mmr_score"),
    )
