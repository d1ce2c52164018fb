"""Corpus-analysis workload (round 3): the monitoring / curation
operators a large-scale training-data pipeline runs NEXT TO the dedup
and sampling passes — frequency analysis (Zipf ranks, heavy-hitter
n-grams), distribution comparison (unigram log-likelihood, KL
divergence), language-ID confusion, URL canonicalization dedup,
prefix-truncation dup groups, containment joins, Bloom-filter join
pre-filtering, rule-based quality gating, per-domain rebalancing, and
train/eval contamination profiling.

Every query is a registered ``(spark_fn, duckdb_oracle)`` pair like the
rest of the registry. Float determinism policy: any mean/divergence
over per-row doubles quantizes each term to DECIMAL before the sum
(order-independent), divides in double, and rounds in-query on both
engines; threshold comparisons run on integer or decimal-exact values
wherever a boundary could differ between engines.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.functions.core import (
    dot_product,
    md5_long,
    round_portable,
    token_array,
    word_shingles_of_tokens,
)
from air_quality_etl_pipeline_spark.functions.portable_math import (
    ln_ratio_portable,
    mean_round6_micro,
    quantize_micro9,
    sql_ln_ratio,
    sql_mean_round6,
    sql_quantize_micro9,
)
from air_quality_etl_pipeline_spark.operators.dedup import (
    minhash_lsh_pairs,
    shared_gram_positions,
    span_removal,
    span_removal_between,
)
from air_quality_etl_pipeline_spark.operators.text import (
    LANG_STOPWORDS,
    crossencoder_rerank_stub,
    fingerprint,
    predicted_lang_of_tokens,
    word_bigrams,
)
from air_quality_etl_pipeline_spark.oracle_fragments import (
    LTOKS,
    SPAN_BETWEEN_ORACLE,
    TOKS,
    _minhash_oracle,
    _sql_list,
)
from air_quality_etl_pipeline_spark.workload import _t, register

#: distinct word-5-gram SQL over a ``toks`` array column (mirrors
#: functions.core.word_shingles_of_tokens, incl. the ≥1 clamp)
GRAMS5 = (
    "list_distinct(list_transform("
    "range(1, greatest(len(toks) - 4, 1) + 1), "
    "i -> array_to_string(toks[i:i+4], ' ')))"
)


# ---------------------------------------------------------------------------
# Frequency analysis
# ---------------------------------------------------------------------------

@register(
    "zipf_token_ranks",
    f"""
    WITH toks AS (SELECT unnest({LTOKS}) AS tok FROM documents),
    freq AS (SELECT tok, count(*) AS n FROM toks GROUP BY 1),
    tot AS (SELECT CAST(sum(CAST(n AS BIGINT)) AS BIGINT) AS total FROM freq)
    SELECT CAST(rk AS BIGINT) AS rank, tok, n,
           CAST(rk * n AS BIGINT) AS rank_times_freq,
           floor(CAST(n AS DOUBLE) / total * 1000000.0 + 0.5)
             / 1000000.0 AS share
    FROM (SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rk
          FROM freq), tot
    WHERE rk <= 50
    """,
)
def q_zipf_token_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-frequency table (top-50) with the rank·frequency product —
    the eyeball check that the corpus follows Zipf's law (a flat
    product column) and the vocabulary head a tokenizer trainer
    samples first. One vocabulary-sized aggregate; the top-50 window
    runs over the VOCABULARY relation, never the corpus, and the
    scalar total broadcasts."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(token_array(F.col("text"))).alias("_raw")
    ).select(F.lower(F.col("_raw")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count("*").alias("n"))
    total = freq.agg(F.sum("n").alias("total"))
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    return (
        freq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 50)
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rank").cast("long").alias("rank"),
            "tok",
            "n",
            (F.col("rank") * F.col("n")).cast("long").alias("rank_times_freq"),
            round_portable(
                F.col("n").cast("double") / F.col("total"), 6
            ).alias("share"),
        )
    )


@register(
    "heavy_hitter_ngrams",
    f"""
    WITH t AS (SELECT {LTOKS} AS toks FROM documents),
    grams AS (
      SELECT unnest(list_transform(
               range(1, greatest(len(toks) - 1, 0) + 1),
               i -> toks[i] || ' ' || toks[i + 1])) AS gram
      FROM t WHERE len(toks) >= 2),
    freq AS (SELECT gram, count(*) AS n FROM grams GROUP BY 1),
    tot AS (SELECT CAST(sum(CAST(n AS BIGINT)) AS BIGINT) AS total FROM freq)
    SELECT CAST(rk AS BIGINT) AS rank, gram, n,
           floor(CAST(n AS DOUBLE) / total * 1000000.0 + 0.5)
             / 1000000.0 AS share
    FROM (SELECT gram, n, row_number() OVER (ORDER BY n DESC, gram ASC) AS rk
          FROM freq), tot
    WHERE rk <= 25
    """,
)
def q_heavy_hitter_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 word bigrams with corpus share — the heavy-hitter query
    behind boilerplate detection (the same n-grams repeated across a
    crawl are navigation chrome / license headers). Exact counting via
    one explode + one n-gram-keyed aggregate; at 100 TB swap the exact
    count for a count-min/Misra-Gries partial per partition feeding
    the same final ranking — the query shape is unchanged."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        F.transform(token_array(F.col("text")), F.lower).alias("toks")
    ).filter(F.size("toks") >= 2)
    grams = t.select(F.explode(word_bigrams(F.col("toks"))).alias("gram"))
    freq = grams.groupBy("gram").agg(F.count("*").alias("n"))
    total = freq.agg(F.sum("n").alias("total"))
    w = Window.orderBy(F.desc("n"), F.asc("gram"))
    return (
        freq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 25)
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rank").cast("long").alias("rank"),
            "gram",
            "n",
            round_portable(
                F.col("n").cast("double") / F.col("total"), 6
            ).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Distribution scoring (unigram LM, KL divergence)
# ---------------------------------------------------------------------------

@register(
    "unigram_logprob_score",
    f"""
    WITH toks AS (
      SELECT lang, source, tok
      FROM (SELECT lang, source, unnest({LTOKS}) AS tok FROM documents)),
    freq AS (SELECT tok, count(*) AS n FROM toks GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM toks),
    lpv AS (
      SELECT tok,
             {sql_quantize_micro9(sql_ln_ratio("f.n", "tot.total"))} AS lpm
      FROM freq f, tot),
    scored AS (
      SELECT t.lang, t.source, l.lpm
      FROM toks t JOIN lpv l USING (tok))
    SELECT lang, source, count(*) AS n_tokens,
           {sql_mean_round6("sum(lpm)", "count(*)")} AS avg_logprob
    FROM scored GROUP BY 1, 2
    """,
)
def q_unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model score per (lang, source): the mean token
    log-probability under the corpus's own unigram distribution — the
    cheapest perplexity proxy for spotting a slice that doesn't look
    like the rest of the corpus (the screening stage before a real LM
    scorer). The vocabulary aggregate broadcasts back onto the token
    stream; per-token log-probs quantize to DECIMAL(18,9) so the
    group sum is order-independent, and the one double division per
    group rounds in-query."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        "source",
        F.explode(token_array(F.col("text"))).alias("_raw"),
    ).select("lang", "source", F.lower(F.col("_raw")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count("*").alias("n"))
    total = toks.agg(F.count("*").alias("total"))
    # lp per DISTINCT token with the bit-portable ln (cross-engine
    # libm logs differ by 1 ulp → DECIMAL(18,9) cell flips; see
    # functions/portable_math.py) — the vocab-sized lp relation then
    # broadcasts onto the token stream.
    lpv = freq.crossJoin(F.broadcast(total)).select(
        "tok",
        quantize_micro9(
            ln_ratio_portable(F.col("n"), F.col("total"))
        ).alias("lpm"),
    )
    scored = toks.join(F.broadcast(lpv), on="tok").select(
        "lang", "source", "lpm"
    )
    # group-level sums ride DECIMAL(38,0): a (lang, source) slice of a
    # 100-TB corpus can hold > 2.6e8 tokens, where an int64 nano-unit
    # sum would overflow.
    return scored.groupBy("lang", "source").agg(
        F.count("*").alias("n_tokens"),
        mean_round6_micro(
            F.sum(F.col("lpm").cast("decimal(38,0)")), F.count("*")
        ).alias("avg_logprob"),
    )


@register(
    "kl_corpus_divergence",
    f"""
    WITH toks AS (
      SELECT source, tok
      FROM (SELECT source, unnest({LTOKS}) AS tok FROM documents)),
    sf AS (SELECT source, tok, count(*) AS ns FROM toks GROUP BY 1, 2),
    st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src
           FROM toks GROUP BY 1),
    cf AS (SELECT tok, count(*) AS nc FROM toks GROUP BY 1),
    ct AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM toks),
    terms AS (
      SELECT s.source,
             CAST((CAST(s.ns AS DOUBLE) / st.n_src)
                  * ln((CAST(s.ns AS DOUBLE) / st.n_src)
                       / (CAST(c.nc AS DOUBLE) / ct.n_corpus))
                  AS DECIMAL(18,12)) AS term
      FROM sf s JOIN st USING (source) JOIN cf c USING (tok), ct)
    SELECT source, n_tokens,
           floor(kl_sum * 1000000.0 + 0.5) / 1000000.0 AS kl_divergence
    FROM (SELECT t.source, max(st.n_src) AS n_tokens,
                 CAST(sum(t.term) AS DOUBLE) AS kl_sum
          FROM terms t JOIN st ON t.source = st.source
          GROUP BY 1)
    """,
)
def q_kl_corpus_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source ‖ corpus) over unigram distributions, per source — the
    mixture-monitoring statistic: a source whose divergence drifts up
    is changing register relative to the corpus (or is contaminated).
    Every source's support is a subset of the corpus's, so no
    smoothing term is needed. Both aggregates are vocabulary-sized;
    per-term contributions quantize to DECIMAL(18,12) for an
    order-independent sum."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(token_array(F.col("text"))).alias("_raw")
    ).select("source", F.lower(F.col("_raw")).alias("tok"))
    sf = toks.groupBy("source", "tok").agg(F.count("*").alias("ns"))
    st = toks.groupBy("source").agg(F.count("*").alias("n_src"))
    cf = toks.groupBy("tok").agg(F.count("*").alias("nc"))
    ct = toks.agg(F.count("*").alias("n_corpus"))
    p = F.col("ns").cast("double") / F.col("n_src")
    q = F.col("nc").cast("double") / F.col("n_corpus")
    terms = (
        sf.join(F.broadcast(st), on="source")
        .join(F.broadcast(cf), on="tok")
        .crossJoin(F.broadcast(ct))
        .select(
            "source",
            (p * F.ln(p / q)).cast("decimal(18,12)").alias("term"),
        )
    )
    agg = (
        terms.join(F.broadcast(st), on="source")
        .groupBy("source")
        .agg(
            F.max("n_src").alias("n_tokens"),
            F.sum("term").cast("double").alias("kl_sum"),
        )
    )
    return agg.select(
        "source",
        "n_tokens",
        round_portable(F.col("kl_sum"), 6).alias("kl_divergence"),
    )


# ---------------------------------------------------------------------------
# Ranking / distribution windows
# ---------------------------------------------------------------------------

@register(
    "percent_rank_docs",
    """
    SELECT doc_id, lang, n_chars,
           floor(percent_rank() OVER w * 1000000.0 + 0.5)
             / 1000000.0 AS pct_rank,
           floor(cume_dist() OVER w * 1000000.0 + 0.5)
             / 1000000.0 AS cume,
           CAST(ntile(10) OVER w AS BIGINT) AS decile
    FROM documents
    WINDOW w AS (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC)
    """,
)
def q_percent_rank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-language document-length distribution placement:
    percent_rank, cume_dist, and decile per document — the length-
    percentile feature curation filters cut on. The (n_chars, doc_id)
    order is total, so every rank function is deterministic; one
    shuffle on lang."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.asc("n_chars"), F.asc("doc_id")
    )
    return d.select(
        "doc_id",
        "lang",
        "n_chars",
        round_portable(F.percent_rank().over(w), 6).alias("pct_rank"),
        round_portable(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(10).over(w).cast("long").alias("decile"),
    )


# ---------------------------------------------------------------------------
# Random projection (Johnson-Lindenstrauss / sign sketch)
# ---------------------------------------------------------------------------

#: deterministic ±1 projection coefficients, hash-derived so the Spark
#: expression and the SQL oracle embed the SAME literal matrix
_RP_DIMS_IN = 64
_RP_DIMS_OUT = 8
_RP_SCALE = 1.0 / math.sqrt(_RP_DIMS_OUT)


def _rp_coeffs(j: int) -> list[float]:
    return [
        1.0
        if int(hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()[:8], 16) % 2
        == 0
        else -1.0
        for i in range(_RP_DIMS_IN)
    ]


def _rp_oracle() -> str:
    projs = []
    for j in range(_RP_DIMS_OUT):
        coeffs = "[" + ", ".join(repr(c) for c in _rp_coeffs(j)) + "]"
        projs.append(
            f"list_sum(list_transform(range(1, {_RP_DIMS_IN + 1}), "
            f"i -> v[i] * ({coeffs})[i])) * {_RP_SCALE!r} AS raw_{j}"
        )
    proj_cols = ",\n             ".join(projs)
    rounded = ", ".join(
        f"floor(raw_{j} * 1000000.0 + 0.5) / 1000000.0 AS p_{j}"
        for j in range(_RP_DIMS_OUT)
    )
    sig = " || ".join(
        f"CASE WHEN raw_{j} >= 0 THEN '1' ELSE '0' END"
        for j in range(_RP_DIMS_OUT)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id < 32),
    proj AS (SELECT vec_id,
             {proj_cols}
             FROM e)
    SELECT vec_id, {rounded}, {sig} AS sign_sig
    FROM proj
    """


@register("random_projection_lsh", _rp_oracle())
def q_random_projection_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse random projection 64→8 dims (Achlioptas, "Database-
    friendly random projections", PODS 2001: ±1 coefficients preserve
    pairwise distances in JL fashion) plus the 8-bit sign signature —
    the dimensionality-reduction front of an LSH index. The ±1 matrix
    is hash-derived and embedded as literals on BOTH engines, and each
    projection unrolls into a fixed fold (bit-identical doubles). Runs
    entirely inside the scan: no shuffle, no UDF."""
    e = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 32)
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    raws = [
        (
            dot_product(
                F.col("v"),
                F.array(*[F.lit(c) for c in _rp_coeffs(j)]),
                dims=_RP_DIMS_IN,
            )
            * F.lit(_RP_SCALE)
        ).alias(f"raw_{j}")
        for j in range(_RP_DIMS_OUT)
    ]
    proj = e.select("vec_id", *raws)
    sig = F.concat(
        *[
            F.when(F.col(f"raw_{j}") >= 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(_RP_DIMS_OUT)
        ]
    )
    return proj.select(
        "vec_id",
        *[
            round_portable(F.col(f"raw_{j}"), 6).alias(f"p_{j}")
            for j in range(_RP_DIMS_OUT)
        ],
        sig.alias("sign_sig"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization / prefix-truncation dedup
# ---------------------------------------------------------------------------

#: synthesized URL per document — the corpus has no URL column, so both
#: engines derive the same messy URL (mixed case, tracking params,
#: fragment) from (source, lang, doc_id) and canonicalize it
_URL_SQL = (
    "'HTTPS://' || upper(source) || '.Example.COM/' || lang "
    "|| '/item/' || CAST(doc_id % 25 AS VARCHAR) "
    "|| '/?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) || '#sec'"
)


@register(
    "url_canonical_dedup",
    f"""
    WITH u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
    canon AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               lower(url), '#.*$', ''), '\\?.*$', ''), '^https?://', ''),
               '/+$', '') AS curl
      FROM u)
    SELECT curl, count(*) AS n_urls, min(doc_id) AS keeper_id
    FROM canon GROUP BY 1 HAVING count(*) >= 2
    """,
)
def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup: lowercase, strip scheme / query
    string (tracking params) / fragment / trailing slash, then group —
    the first dedup pass of any web-crawl pipeline (two crawls of the
    same page differ only in utm_* noise). Canonicalization is
    scan-local string work; the dedup is one groupBy on the canonical
    key, exactly the exact-dedup shape."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://"),
        F.upper(F.col("source")),
        F.lit(".Example.COM/"),
        F.col("lang"),
        F.lit("/item/"),
        (F.col("doc_id") % 25).cast("string"),
        F.lit("/?utm_source=feed&id="),
        F.col("doc_id").cast("string"),
        F.lit("#sec"),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), "#.*$", ""),
                "\\?.*$",
                "",
            ),
            "^https?://",
            "",
        ),
        "/+$",
        "",
    )
    return (
        d.select(F.col("doc_id"), curl.alias("curl"))
        .groupBy("curl")
        .agg(
            F.count("*").alias("n_urls"),
            F.min("doc_id").alias("keeper_id"),
        )
        .filter(F.col("n_urls") >= 2)
    )


@register(
    "suffix_prefix_dup",
    """
    WITH k AS (SELECT doc_id, lang, len(text) AS n,
                      md5(substr(lower(text), 1, 100)) AS pk
               FROM documents)
    SELECT pk AS prefix_key, count(*) AS n_docs,
           min(doc_id) AS keeper_id,
           min(n) AS min_len, max(n) AS max_len
    FROM k GROUP BY 1 HAVING count(*) >= 2
    """,
)
def q_suffix_prefix_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-truncation duplicate groups: documents sharing their
    first 100 characters — catches the truncated-recrawl duplicates
    exact dedup misses (same page, one copy cut short), the min/max
    length spread showing the truncation. Hash-groupBy on the prefix
    digest: one shuffle on a 32-byte key, the text never moves."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            "lang",
            F.length("text").alias("n"),
            F.md5(F.substring(F.lower(F.col("text")), 1, 100)).alias(
                "prefix_key"
            ),
        )
        .groupBy("prefix_key")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper_id"),
            F.min("n").cast("long").alias("min_len"),
            F.max("n").cast("long").alias("max_len"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# Bloom-filter join pre-filtering
# ---------------------------------------------------------------------------

_BF_BITS = 4096
_BF_HASHES = 3


@register(
    "bloom_filter_join",
    """
    SELECT o.o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders o
    WHERE o.o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    GROUP BY 1
    """,
)
def q_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join through a Bloom-filter pre-filter: the BUILDING-segment
    customer keys build a 4096-bit / 3-hash Bloom bitmap (collected as
    ≤4096 set-bit POSITIONS — bounded by the filter size, not the dim
    cardinality), the fact scan drops rows failing any membership probe
    via O(1) substring lookups into the bitmap literal, and an exact
    broadcast semi-join removes the false positives. The oracle is the
    plain semi-join — the Bloom stage may only pass supersets. At
    100 TB this is Spark's own runtime-filter pattern made explicit:
    the fact table shrinks BEFORE the shuffle, and the bitmap rides the
    task closure instead of a broadcast exchange."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    dim_keys = c.select(F.col("c_custkey").cast("string").alias("k"))
    pos_cols = [
        (md5_long(F.col("k"), salt=f"bf{i}") % _BF_BITS).alias(f"p{i}")
        for i in range(_BF_HASHES)
    ]
    positions = {
        int(v)
        for row in dim_keys.select(
            F.explode(F.array(*pos_cols)).alias("p")
        )
        .distinct()
        .collect()
        for v in row
    }
    bitmap = "".join(
        "1" if i in positions else "0" for i in range(_BF_BITS)
    )
    o = _t(spark, sf_dir, "orders")
    key = F.col("o_custkey").cast("string")
    probe = None
    for i in range(_BF_HASHES):
        hit = (
            F.substring(
                F.lit(bitmap),
                (md5_long(key, salt=f"bf{i}") % _BF_BITS + 1).cast("int"),
                1,
            )
            == "1"
        )
        probe = hit if probe is None else (probe & hit)
    prefiltered = o.filter(probe)
    exact = prefiltered.join(
        F.broadcast(c.select("c_custkey")),
        prefiltered["o_custkey"] == F.col("c_custkey"),
        "left_semi",
    )
    return exact.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Quality profiling / gating
# ---------------------------------------------------------------------------

def _stopword_count_sql() -> str:
    cases = " ".join(
        f"WHEN lang = '{lg}' THEN len(list_filter(toks, "
        f"x -> list_contains({_sql_list(LANG_STOPWORDS[lg])}, x)))"
        for lg in sorted(LANG_STOPWORDS)
    )
    return f"CASE {cases} ELSE 0 END"


@register(
    "stopword_profile",
    f"""
    WITH t AS (SELECT lang, {LTOKS} AS toks FROM documents),
    s AS (SELECT lang, len(toks) AS n,
                 {_stopword_count_sql()} AS n_stop
          FROM t WHERE len(toks) > 0)
    SELECT lang, count(*) AS n_docs,
           floor(CAST(sum(CAST(CAST(n_stop AS DOUBLE) / n
                               AS DECIMAL(18,9))) AS DOUBLE)
                 / count(*) * 1000000.0 + 0.5) / 1000000.0
             AS avg_stopword_ratio,
           CAST(sum(CASE WHEN CAST(n_stop AS DOUBLE) / n > 0.1
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_stopword_heavy
    FROM s GROUP BY 1
    """,
)
def q_stopword_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stopword-density profile using each language's OWN
    stopword list (an English list scored against zh text reads as
    gibberish): mean ratio and the count of stopword-heavy documents.
    The per-doc ratio quantizes to DECIMAL(18,9) before the mean so
    the aggregate is order-independent; the whole query is one
    scan-local CASE plus a 5-group aggregate."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        F.transform(token_array(F.col("text")), F.lower).alias("toks"),
    ).filter(F.size("toks") > 0)
    def _stop_count(lg: str):
        words = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lg]])
        return F.size(
            F.filter(F.col("toks"), lambda x: F.array_contains(words, x))
        )

    n_stop = None
    for lg in sorted(LANG_STOPWORDS):
        cnt = _stop_count(lg)
        branch = F.when(F.col("lang") == lg, cnt)
        n_stop = branch if n_stop is None else n_stop.when(
            F.col("lang") == lg, cnt
        )
    n_stop = n_stop.otherwise(F.lit(0))
    s = t.select(
        "lang",
        F.size("toks").alias("n"),
        n_stop.alias("n_stop"),
    )
    ratio = F.col("n_stop").cast("double") / F.col("n")
    return s.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        round_portable(
            F.sum(ratio.cast("decimal(18,9)")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_stopword_ratio"),
        F.sum((ratio > 0.1).cast("long")).alias("n_stopword_heavy"),
    )


#: standalone confusion-matrix SELECT — registered as the
#: char_ngram_lid_confusion oracle and reused by lid_macro_f1
_LID_CONFUSION_ORACLE = f"""
    WITH t AS (SELECT lang, {LTOKS} AS toks FROM documents),
    s AS (SELECT lang,
           {", ".join(
               f"len(list_filter(toks, x -> list_contains("
               f"{_sql_list(LANG_STOPWORDS[lg])}, x))) AS s_{lg}"
               for lg in sorted(LANG_STOPWORDS)
           )}
          FROM t)
    SELECT lang, lang_pred, count(*) AS n_docs FROM (
      SELECT lang,
             CASE WHEN {"greatest(" + ", ".join(f"s_{lg}" for lg in sorted(LANG_STOPWORDS)) + ")"} <= 0 THEN 'und'
               {" ".join(
                   f"WHEN s_{lg} = "
                   + "greatest(" + ", ".join(f"s_{l2}" for l2 in sorted(LANG_STOPWORDS)) + ")"
                   + f" THEN '{lg}'"
                   for lg in sorted(LANG_STOPWORDS)
               )}
               ELSE 'und' END AS lang_pred
      FROM s)
    GROUP BY 1, 2
    """


@register("char_ngram_lid_confusion", _LID_CONFUSION_ORACLE)
def q_char_ngram_lid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: labeled lang × predicted lang with
    document counts — the evaluation view of the lang_id operator
    (which emits per-doc predictions). Same deterministic stopword-hit
    argmax; the matrix is a 25-cell aggregate, so the corpus shuffles
    once on a 2-string key."""
    d = _t(spark, sf_dir, "documents")
    t = d.withColumn(
        "_toks", F.transform(token_array(F.col("text")), F.lower)
    )
    return (
        t.select(
            "lang",
            predicted_lang_of_tokens(F.col("_toks")).alias("lang_pred"),
        )
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "token_histogram_bands",
    f"""
    WITH t AS (SELECT lang, len({TOKS}) AS n FROM documents)
    SELECT lang,
           CASE WHEN n < 16 THEN '00-15'
                WHEN n < 32 THEN '16-31'
                WHEN n < 64 THEN '32-63'
                WHEN n < 128 THEN '64-127'
                ELSE '128+' END AS band,
           count(*) AS n_docs,
           min(n) AS min_tokens, max(n) AS max_tokens
    FROM t GROUP BY 1, 2
    """,
)
def q_token_histogram_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram in power-of-two token bands per
    language — the distribution panel of a curation dashboard (and the
    input to choosing chunking/packing sizes). Scan-local banding CASE,
    one small aggregate."""
    d = _t(spark, sf_dir, "documents")
    n = F.size(token_array(F.col("text")))
    band = (
        F.when(n < 16, "00-15")
        .when(n < 32, "16-31")
        .when(n < 64, "32-63")
        .when(n < 128, "64-127")
        .otherwise("128+")
    )
    return (
        d.select("lang", n.alias("n"), band.alias("band"))
        .groupBy("lang", "band")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n").cast("long").alias("min_tokens"),
            F.max("n").cast("long").alias("max_tokens"),
        )
    )


@register(
    "robots_quality_gate",
    f"""
    WITH t AS (
      SELECT source, {TOKS} AS toks FROM documents),
    m AS (
      SELECT source, len(toks) AS n,
             len(list_distinct(toks)) AS uniq,
             len(array_to_string(toks, '')) AS sum_len
      FROM t),
    flags AS (
      SELECT source,
             CASE WHEN n BETWEEN 10 AND 1000 THEN 0 ELSE 1 END AS f_len,
             CASE WHEN 5 * uniq >= n THEN 0 ELSE 1 END AS f_uniq,
             CASE WHEN 2 * n <= sum_len AND sum_len <= 12 * n
                  THEN 0 ELSE 1 END AS f_wordlen
      FROM m)
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN f_len + f_uniq + f_wordlen = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(sum(f_len) AS BIGINT) AS n_fail_len,
           CAST(sum(f_uniq) AS BIGINT) AS n_fail_uniq,
           CAST(sum(f_wordlen) AS BIGINT) AS n_fail_wordlen
    FROM flags GROUP BY 1
    """,
)
def q_robots_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based quality gate (Gopher-rule shape, Rae et al. 2021 app.
    A1.1) with per-source pass/fail accounting: token count in
    [10, 1000], unique-token ratio ≥ 0.2, mean word length in [2, 12].
    EVERY threshold is evaluated in integer arithmetic (5·uniq ≥ n,
    2·n ≤ Σlen ≤ 12·n) — no float boundary can disagree between
    engines. Scan-local flags, one aggregate on source."""
    d = _t(spark, sf_dir, "documents")
    toks = token_array(F.col("text"))
    m = d.select(
        "source",
        F.size(toks).alias("n"),
        F.size(F.array_distinct(toks)).alias("uniq"),
        F.length(F.array_join(toks, "")).alias("sum_len"),
    )
    f_len = F.when(F.col("n").between(10, 1000), 0).otherwise(1)
    f_uniq = F.when(5 * F.col("uniq") >= F.col("n"), 0).otherwise(1)
    f_wordlen = F.when(
        (2 * F.col("n") <= F.col("sum_len"))
        & (F.col("sum_len") <= 12 * F.col("n")),
        0,
    ).otherwise(1)
    flags = m.select(
        "source",
        f_len.alias("f_len"),
        f_uniq.alias("f_uniq"),
        f_wordlen.alias("f_wordlen"),
    )
    return flags.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            (
                F.col("f_len") + F.col("f_uniq") + F.col("f_wordlen") == 0
            ).cast("long")
        ).alias("n_pass"),
        F.sum("f_len").cast("long").alias("n_fail_len"),
        F.sum("f_uniq").cast("long").alias("n_fail_uniq"),
        F.sum("f_wordlen").cast("long").alias("n_fail_wordlen"),
    )


# ---------------------------------------------------------------------------
# Rebalancing / containment / contamination
# ---------------------------------------------------------------------------

@register(
    "domain_balance_sample",
    """
    WITH ranked AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('balance:' || CAST(doc_id AS VARCHAR)) ASC,
                        doc_id ASC) AS rk
      FROM documents)
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN rk <= 20 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           min(CASE WHEN rk <= 20 THEN doc_id END) AS sample_min_id
    FROM ranked GROUP BY 1
    """,
)
def q_domain_balance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain rebalancing: cap every source at 20 documents chosen
    by deterministic hash order (md5-ranked, so the SAME sample on
    every engine and every run — reproducible corpus construction, per
    the RefinedWeb/Dolma practice of per-domain caps against
    boilerplate farms). One window per source partition; at 100 TB
    this is the standard cap-per-key shuffle, skew-safe because rank
    truncation happens inside each partition."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(
            F.concat(F.lit("balance:"), F.col("doc_id").cast("string"))
        ).asc(),
        F.col("doc_id").asc(),
    )
    ranked = d.select(
        "source", "doc_id", F.row_number().over(w).alias("rk")
    )
    return ranked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("rk") <= 20).cast("long")).alias("n_kept"),
        F.min(F.when(F.col("rk") <= 20, F.col("doc_id"))).alias(
            "sample_min_id"
        ),
    )


@register(
    "minhash_containment",
    f"""
    WITH t AS (SELECT doc_id, {LTOKS} AS toks FROM documents),
    g AS (SELECT doc_id,
                 unnest({GRAMS5}) AS gram
          FROM t),
    sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
    pair AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    scored AS (
      SELECT p.id_a, p.id_b, p.inter,
             floor(CAST(p.inter AS DOUBLE) / sa.n * 10000.0 + 0.5)
               / 10000.0 AS contain_a,
             floor(CAST(p.inter AS DOUBLE) / sb.n * 10000.0 + 0.5)
               / 10000.0 AS contain_b,
             10 * p.inter >= 2 * sa.n OR 10 * p.inter >= 2 * sb.n AS keep
      FROM pair p JOIN sz sa ON sa.doc_id = p.id_a
                  JOIN sz sb ON sb.doc_id = p.id_b)
    SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
           contain_a, contain_b
    FROM scored WHERE keep
    """,
)
def q_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment join (Broder's C(A,B) = |A∩B| / |A|, the asymmetric
    companion to Jaccard): pairs where ≥20% of either document's
    word-5-gram set appears in the other — catches quote/excerpt
    relationships symmetric Jaccard dilutes. Inverted-index shape:
    grams self-join on the gram key (rare-by-construction for word
    5-grams), one pair aggregate, sizes joined back; the ≥20% cut is
    the integer predicate 10·inter ≥ 2·n, immune to float boundaries."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.transform(token_array(F.col("text")), F.lower).alias("toks"),
    )
    g = t.select(
        "doc_id",
        F.explode(word_shingles_of_tokens(F.col("toks"), 5)).alias("gram"),
    )
    sz = g.groupBy("doc_id").agg(F.count("*").alias("n"))
    ga = g.select(F.col("doc_id").alias("id_a"), "gram")
    gb = g.select(F.col("doc_id").alias("id_b"), "gram")
    pair = (
        ga.join(gb, on="gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sz.select(
        F.col("doc_id").alias("id_a"), F.col("n").alias("na")
    )
    sb = sz.select(
        F.col("doc_id").alias("id_b"), F.col("n").alias("nb")
    )
    scored = pair.join(sa, on="id_a").join(sb, on="id_b")
    keep = (10 * F.col("inter") >= 2 * F.col("na")) | (
        10 * F.col("inter") >= 2 * F.col("nb")
    )
    return scored.filter(keep).select(
        "id_a",
        "id_b",
        F.col("inter").cast("long").alias("inter"),
        round_portable(
            F.col("inter").cast("double") / F.col("na"), 4
        ).alias("contain_a"),
        round_portable(
            F.col("inter").cast("double") / F.col("nb"), 4
        ).alias("contain_b"),
    )


@register(
    "doc_dup_fraction_by_lang",
    """
    WITH f AS (
      SELECT lang,
             md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
      FROM documents),
    g AS (SELECT lang, fp, count(*) AS n FROM f GROUP BY 1, 2)
    SELECT lang,
           CAST(sum(CAST(n AS BIGINT)) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           floor(CAST(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS DOUBLE)
                 / sum(n) * 10000.0 + 0.5) / 10000.0 AS dup_frac
    FROM g GROUP BY 1
    """,
)
def q_doc_dup_fraction_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language duplication rate: the share of documents whose
    normalized-content fingerprint occurs ≥2 times — the slice-level
    health metric that decides WHERE dedup effort goes (a lang with
    30% dup rate gets the aggressive pass). Fingerprint groupBy then a
    5-row rollup; the corpus shuffles once on the digest."""
    d = _t(spark, sf_dir, "documents")
    g = (
        d.select("lang", fingerprint(F.col("text")).alias("fp"))
        .groupBy("lang", "fp")
        .agg(F.count("*").alias("n"))
    )
    dup_n = F.sum(F.when(F.col("n") >= 2, F.col("n")).otherwise(0))
    return g.groupBy("lang").agg(
        F.sum("n").cast("long").alias("n_docs"),
        dup_n.cast("long").alias("n_dup_docs"),
        round_portable(
            dup_n.cast("double") / F.sum("n"), 4
        ).alias("dup_frac"),
    )


@register(
    "contamination_overlap_stats",
    f"""
    WITH t AS (SELECT doc_id, {LTOKS} AS toks FROM documents),
    g AS (SELECT doc_id,
                 ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh
          FROM (SELECT doc_id, unnest({GRAMS5}) AS gram FROM t)),
    eval_g AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0),
    train AS (
      SELECT g.doc_id, count(*) AS n_grams,
             CAST(sum(CASE WHEN e.gh IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_shared
      FROM g LEFT JOIN eval_g e USING (gh)
      WHERE g.doc_id % 97 <> 0
      GROUP BY 1),
    banded AS (
      SELECT CASE
               WHEN n_shared = 0 THEN '0_clean'
               WHEN 10 * n_shared <= n_grams THEN '1_low'
               WHEN 10 * n_shared <= 3 * n_grams THEN '2_mid'
               ELSE '3_high' END AS band
      FROM train)
    SELECT band, count(*) AS n_docs FROM banded GROUP BY 1
    """,
)
def q_contamination_overlap_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train/eval contamination PROFILE (the monitoring companion to
    the decontaminate_eval removal pass, GPT-3 §2.2): every training
    document banded by the fraction of its word-5-grams shared with
    the held-out set (doc_id % 97 — the synthetic eval split). The
    eval gram set is hashed and broadcast (eval sets are thousands of
    docs, never corpus-scale); band edges are integer predicates
    (10·shared ≤ n, 10·shared ≤ 3n), so no float boundary exists."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.transform(token_array(F.col("text")), F.lower).alias("toks"),
    )
    g = t.select(
        "doc_id",
        F.explode(word_shingles_of_tokens(F.col("toks"), 5)).alias("gram"),
    ).select("doc_id", md5_long(F.col("gram")).alias("gh"))
    eval_g = (
        g.filter(F.col("doc_id") % 97 == 0)
        .select("gh")
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    train = (
        g.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(eval_g), on="gh", how="left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.col("_hit").isNotNull().cast("long")).alias(
                "n_shared"
            ),
        )
    )
    band = (
        F.when(F.col("n_shared") == 0, "0_clean")
        .when(10 * F.col("n_shared") <= F.col("n_grams"), "1_low")
        .when(10 * F.col("n_shared") <= 3 * F.col("n_grams"), "2_mid")
        .otherwise("3_high")
    )
    return (
        train.select(band.alias("band"))
        .groupBy("band")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "embedding_drift_centroids",
    """
    WITH ex AS (
      SELECT label, vec_id % 2 = 0 AS is_a, i.i AS dim,
             CAST(floor(CAST(embedding[i.i] AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS micro
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i),
    g AS (
      SELECT label, dim,
             CAST(sum(CASE WHEN is_a THEN micro ELSE 0 END) AS BIGINT) AS sa,
             CAST(sum(CASE WHEN is_a THEN 0 ELSE micro END) AS BIGINT) AS sb,
             CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nb
      FROM ex GROUP BY 1, 2),
    terms AS (
      SELECT label, na, nb,
             CAST(((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
                    / 1000000.0)
                  * ((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
                     / 1000000.0)
                  AS DECIMAL(38,18)) AS term
      FROM g)
    SELECT CAST(label AS BIGINT) AS label,
           max(na) AS n_cohort_a, max(nb) AS n_cohort_b,
           floor(sqrt(CAST(sum(term) AS DOUBLE)) * 1000000.0 + 0.5)
             / 1000000.0 AS l2_shift
    FROM terms GROUP BY 1
    """,
)
def q_embedding_drift_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per label, the L2 distance between the
    centroid of cohort A (even vec_ids) and cohort B (odd) — the
    statistic an embedding pipeline tracks across batches/model
    versions to catch representation drift. Centroids accumulate in
    exact integer MICRO-units (the label_centroids pattern — integer
    sums are order-independent, float sums are not), the per-dimension
    squared difference quantizes to DECIMAL(38,18) for an
    order-independent reduce, and one sqrt+round lands the final
    statistic. One posexplode, one (label, dim)-keyed aggregate, one
    label-keyed reduce — the vectors never shuffle twice."""
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("is_a"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim0", "x"
        ),
    ).select(
        "label",
        "is_a",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("x") * 1_000_000.0 + 0.5).cast("long").alias("micro"),
    )
    g = ex.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("is_a"), F.col("micro")).otherwise(0)).alias("sa"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(F.col("micro"))).alias("sb"),
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("nb"),
    )
    d = (
        F.col("sa").cast("double") / F.col("na")
        - F.col("sb").cast("double") / F.col("nb")
    ) / 1_000_000.0
    terms = g.select(
        "label", "na", "nb", (d * d).cast("decimal(38,18)").alias("term")
    )
    return terms.groupBy(
        F.col("label").cast("long").alias("label")
    ).agg(
        F.max("na").alias("n_cohort_a"),
        F.max("nb").alias("n_cohort_b"),
        round_portable(
            F.sqrt(F.sum("term").cast("double")), 6
        ).alias("l2_shift"),
    )


# ---------------------------------------------------------------------------
# Retrieval scoring / feature selection / split hygiene (round-4 set)
# ---------------------------------------------------------------------------

_BM25_TERMS = ["table", "spark", "row"]
_BM25_K1 = 1.2
_BM25_B = 0.75


#: standalone BM25 top-20 SELECT — registered as the bm25_search oracle
#: and reused verbatim as a subquery by the hybrid_rrf_search oracle
_BM25_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, tok
      FROM (SELECT doc_id, unnest({LTOKS}) AS tok FROM documents)),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
           WHERE tok IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
           GROUP BY 1, 2),
    df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             CAST(ln((CAST(s.n_docs AS DOUBLE) - df.df + 0.5)
                     / (df.df + 0.5) + 1.0)
                  * (tf.tf * ({_BM25_K1} + 1.0))
                  / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                     + {_BM25_B} * dl.dl
                       / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                  AS DECIMAL(18,9)) AS term_score
      FROM tf JOIN df USING (tok) JOIN dl ON dl.doc_id = tf.doc_id, stats s)
    SELECT doc_id, score, CAST(rk AS BIGINT) AS rank FROM (
      SELECT doc_id,
             floor(CAST(sum(term_score) AS DOUBLE) * 1000000.0 + 0.5)
               / 1000000.0 AS score,
             row_number() OVER (
               ORDER BY floor(CAST(sum(term_score) AS DOUBLE) * 1000000.0
                              + 0.5) / 1000000.0 DESC,
                        doc_id ASC) AS rk
      FROM scored GROUP BY 1)
    WHERE rk <= 20
    """


def _bm25_doc_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE tokenize pass for the whole BM25/RRF family: per-document
    token count plus one tf column per query term (``dl, tf_0..tf_k``).

    Round-14 rework (guide §2.3 "aggregate before you shuffle", §2.4
    "share one exchange"): the previous shape ran THREE tokenize+
    explode passes per hybrid_rrf_search execution — the dl aggregate,
    the (doc, term) tf aggregate, and leg b's tf_sum aggregate. All of
    them are derivable from this single doc-grain wide aggregate, and
    because every consumer is built from the SAME DataFrame object the
    planner reuses one exchange (ReusedExchange in the final plan —
    AQE stage-cache reuse; SCALE.md "Mechanism rulings").
    The shared exchange is doc-grain and narrow (4 ints per doc), so
    re-reading it per consumer is cheap at any scale — unlike the
    trigram fused-gram variant, rejected the same round, whose shared
    exchange was the fat gram vocabulary. Measured (interleaved warm
    best-of-3, commit 6e9c12f): hybrid 1.14–1.49 s →
    0.73–0.76 s at sf0.1; 3.9–4.8 s → 1.9 s warm and 14.8 → 3.8 s
    cold at sf1. Plan: FileScan 2→1, Exchange 18→9."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(token_array(F.col("text"))).alias("_raw")
    ).select("doc_id", F.lower(F.col("_raw")).alias("tok"))
    return toks.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.sum(F.when(F.col("tok") == t, 1).otherwise(0)).alias(f"tf_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )


@register("bm25_search", _BM25_ORACLE)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking (Robertson/Spärck Jones probabilistic relevance,
    the k1/b form) for a fixed 3-term query — the retrieval scorer a
    RAG corpus runs next to the inverted index. Per-term tf, document
    length, corpus stats and document frequencies all come from ONE
    tokenize pass (``_bm25_doc_tf``; the stats/df row re-aggregates the
    same exchange and broadcasts back); per-term scores quantize to
    DECIMAL(18,9) so the per-doc sum is order-independent (the 0 added
    for absent terms is exact), and the top-20 window orders by the
    ROUNDED score (ties broken by doc_id) so both engines rank
    identically."""
    wide = _bm25_doc_tf(spark, sf_dir)
    glob = wide.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    joined = wide.crossJoin(F.broadcast(glob))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")

    def term_score(i: int):
        # identical double-expression order to the pre-r14 per-row
        # form (idf · saturated-tf), so the DECIMAL(18,9) quantization
        # sees bit-identical inputs; terms absent from a doc contribute
        # an exact decimal 0, matching the row-sum over present terms
        tf = F.col(f"tf_{i}")
        idf = F.ln(
            (F.col("n_docs").cast("double") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        s = (
            idf
            * (tf * (_BM25_K1 + 1.0))
            / (tf + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / avgdl))
        ).cast("decimal(18,9)")
        return F.when(tf > 0, s).otherwise(F.lit(0).cast("decimal(18,9)"))

    total = term_score(0)
    for i in range(1, len(_BM25_TERMS)):
        total = total + term_score(i)
    per_doc = joined.filter(
        sum(F.col(f"tf_{i}") for i in range(len(_BM25_TERMS))) > 0
    ).select("doc_id", round_portable(total.cast("double"), 6).alias("score"))
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("doc_id", "score", F.col("rank").cast("long").alias("rank"))
    )


@register(
    "chi2_lang_tokens",
    f"""
    WITH toks AS (
      SELECT lang, tok
      FROM (SELECT lang, unnest({LTOKS}) AS tok FROM documents)),
    lt AS (SELECT lang, tok, count(*) AS n11 FROM toks GROUP BY 1, 2),
    lsum AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
             FROM toks GROUP BY 1),
    tsum AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_tok
             FROM toks GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
    cells AS (
      SELECT lt.lang, lt.tok, lt.n11,
             tsum.n_tok - lt.n11 AS n10,
             lsum.n_lang - lt.n11 AS n01,
             tot.n - tsum.n_tok - lsum.n_lang + lt.n11 AS n00,
             tot.n AS n
      FROM lt JOIN lsum USING (lang) JOIN tsum USING (tok), tot),
    chi AS (
      SELECT lang, tok, n11,
             floor(CAST(n AS DOUBLE)
                   * (CAST(n11 AS DOUBLE) * n00 - CAST(n10 AS DOUBLE) * n01)
                   * (CAST(n11 AS DOUBLE) * n00 - CAST(n10 AS DOUBLE) * n01)
                   / ((CAST(n11 AS DOUBLE) + n10) * (CAST(n01 AS DOUBLE) + n00)
                      * (CAST(n11 AS DOUBLE) + n01)
                      * (CAST(n10 AS DOUBLE) + n00))
                   * 10000.0 + 0.5) / 10000.0 AS chi2
      FROM cells)
    SELECT lang, tok, CAST(n11 AS BIGINT) AS n_in_lang, chi2,
           CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY lang ORDER BY chi2 DESC, tok ASC) AS rk
          FROM chi)
    WHERE rk <= 5
    """,
)
def q_chi2_lang_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² token–language association (the feature-selection statistic
    of Manning/Schütze §5.3): the 5 tokens most characteristic of each
    language by the 2×2 contingency χ², computed from exact integer
    cell counts with ONE double expression (identical operation order
    on both engines) and in-query rounding. All aggregates are
    vocabulary- or language-sized; the corpus shuffles once to build
    the (lang, tok) cells."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(token_array(F.col("text"))).alias("_raw")
    ).select("lang", F.lower(F.col("_raw")).alias("tok"))
    lt = toks.groupBy("lang", "tok").agg(F.count("*").alias("n11"))
    lsum = toks.groupBy("lang").agg(F.count("*").alias("n_lang"))
    tsum = toks.groupBy("tok").agg(F.count("*").alias("n_tok"))
    tot = toks.agg(F.count("*").alias("n"))
    cells = (
        lt.join(F.broadcast(lsum), on="lang")
        .join(F.broadcast(tsum), on="tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "tok",
            "n11",
            (F.col("n_tok") - F.col("n11")).alias("n10"),
            (F.col("n_lang") - F.col("n11")).alias("n01"),
            (
                F.col("n") - F.col("n_tok") - F.col("n_lang") + F.col("n11")
            ).alias("n00"),
            "n",
        )
    )
    num = (
        F.col("n11").cast("double") * F.col("n00")
        - F.col("n10").cast("double") * F.col("n01")
    )
    chi2 = (
        F.col("n").cast("double")
        * num
        * num
        / (
            (F.col("n11").cast("double") + F.col("n10"))
            * (F.col("n01").cast("double") + F.col("n00"))
            * (F.col("n11").cast("double") + F.col("n01"))
            * (F.col("n10").cast("double") + F.col("n00"))
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("chi2"), F.asc("tok"))
    scored = cells.select(
        "lang",
        "tok",
        F.col("n11").cast("long").alias("n_in_lang"),
        round_portable(chi2, 4).alias("chi2"),
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "lang", "tok", "n_in_lang", "chi2",
            F.col("rank").cast("long").alias("rank"),
        )
    )


@register(
    "train_val_test_split",
    """
    WITH s AS (
      SELECT lang,
             CASE WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                        1, 15))::BIGINT % 100 < 80 THEN 'train'
                  WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                        1, 15))::BIGINT % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT lang, split, count(*) AS n_docs
    FROM s GROUP BY 1, 2
    """,
)
def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by salted content-id
    hash — membership is a pure function of the id, so re-running the
    pipeline (or running it on another engine) assigns every document
    to the SAME split: the reproducibility property leakage audits
    depend on. Scan-local hash + one small aggregate; the per-lang
    breakdown is the balance check."""
    d = _t(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id").cast("string"), salt="split") % 100
    split = (
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
    )
    return (
        d.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "bpe_pair_counts",
    f"""
    WITH toks AS (
      SELECT tok, count(*) AS freq
      FROM (SELECT unnest({LTOKS}) AS tok FROM documents) GROUP BY 1),
    pairs AS (
      SELECT substr(tok, i, 2) AS pair, freq
      FROM toks, unnest(range(1, len(tok))) AS t(i)
      WHERE len(tok) >= 2),
    agg AS (SELECT pair, CAST(sum(CAST(freq AS BIGINT)) AS BIGINT) AS n
            FROM pairs GROUP BY 1)
    SELECT CAST(rk AS BIGINT) AS rank, pair, n
    FROM (SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair ASC) AS rk
          FROM agg)
    WHERE rk <= 20
    """,
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge-step statistic (Sennrich et al., "Neural Machine
    Translation of Rare Words with Subword Units", ACL 2016 §3.2): the
    adjacent character-pair frequencies over the VOCABULARY weighted by
    word frequency — the argmax of this table is the next merge. The
    corpus collapses to its vocabulary first (one aggregate), pairs
    explode from the vocabulary relation only (thousands of rows, not
    the corpus), and repeated pairs inside a word count once per
    position exactly as the reference algorithm does."""
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.select(F.explode(token_array(F.col("text"))).alias("_raw"))
        .select(F.lower(F.col("_raw")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .filter(F.length("tok") >= 2)
    )
    pairs = toks.select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    agg = pairs.groupBy("pair").agg(F.sum("freq").alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select(F.col("rank").cast("long").alias("rank"), "pair", "n")
    )


@register(
    "dedup_span_runs",
    f"""
    WITH t AS (SELECT doc_id, {LTOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id, u.i AS pos,
             ('0x' || substr(md5(array_to_string(toks[u.i:u.i+4], ' ')),
              1, 15))::BIGINT AS gh
      FROM t, unnest(range(1, greatest(len(toks) - 4, 1) + 1)) AS u(i)),
    df AS (SELECT gh, count(DISTINCT doc_id) AS n_docs FROM g GROUP BY 1),
    flagged AS (
      SELECT g.doc_id, g.pos FROM g JOIN df USING (gh)
      WHERE df.n_docs >= 2),
    islands AS (
      SELECT doc_id,
             pos - row_number() OVER (
               PARTITION BY doc_id ORDER BY pos ASC) AS island
      FROM flagged),
    runs AS (SELECT doc_id, count(*) AS run_len
             FROM islands GROUP BY doc_id, island)
    SELECT doc_id, CAST(max(run_len) AS BIGINT) AS max_shared_run,
           CAST(count(*) AS BIGINT) AS n_runs
    FROM runs GROUP BY 1
    """,
)
def q_dedup_span_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-SPAN detection prep (Lee et al., ACL 2022 — their
    dedup removes exact substrings ≥50 tokens, not whole documents):
    per document, the LONGEST run of consecutive word-5-grams that
    also appear in some other document, via gaps-and-islands over the
    shared-gram positions (:func:`operators.dedup
    .shared_gram_positions` — the ≥2-docs flag is a min≠max fold, not
    a countDistinct, so the vocabulary-sized aggregate carries two
    8-byte accumulators per gram instead of a distinct set; the
    oracle's ``count(DISTINCT doc_id) >= 2`` is the same predicate).
    A long run = a copied span to cut; isolated shared grams are
    phrase-level noise. Positions ride the explode (no second scan)
    and the island window partitions by doc — corpus shuffles once on
    doc_id."""
    from pyspark.sql import Window as W

    d = _t(spark, sf_dir, "documents")
    flagged = shared_gram_positions(d, "text", "doc_id", 5)
    w = W.partitionBy("doc_id").orderBy(F.asc("pos"))
    islands = flagged.select(
        "doc_id", (F.col("pos") - F.row_number().over(w)).alias("island")
    )
    runs = islands.groupBy("doc_id", "island").agg(
        F.count("*").alias("run_len")
    )
    return runs.groupBy("doc_id").agg(
        F.max("run_len").cast("long").alias("max_shared_run"),
        F.count("*").cast("long").alias("n_runs"),
    )


@register(
    "dedup_span_removal",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS otoks, {LTOKS} AS toks
               FROM documents),
    g AS (SELECT doc_id, u.i AS pos,
            ('0x' || substr(md5(array_to_string(toks[u.i:u.i+4], ' ')),
             1, 15))::BIGINT AS gh
          FROM t, unnest(range(1, greatest(len(toks) - 4, 1) + 1)) AS u(i)),
    dfq AS (SELECT gh FROM g GROUP BY gh
            HAVING count(DISTINCT doc_id) >= 2),
    flagged AS (SELECT g.doc_id, g.pos FROM g JOIN dfq USING (gh)),
    isl AS (SELECT doc_id, pos, pos - row_number() OVER (
              PARTITION BY doc_id ORDER BY pos ASC) AS island
            FROM flagged),
    runs AS (SELECT doc_id, min(pos) AS p1, max(pos) AS p2
             FROM isl GROUP BY doc_id, island HAVING count(*) >= 8),
    spans AS (SELECT r.doc_id, r.p1,
                least(r.p2 + 4, len(t.toks)) AS tend,
                md5(array_to_string(
                  t.toks[r.p1:least(r.p2 + 4, len(t.toks))], ' ')) AS span_h
              FROM runs r JOIN t USING (doc_id)),
    removable AS (
      SELECT doc_id, p1, tend FROM (
        SELECT *, row_number() OVER (
          PARTITION BY span_h ORDER BY doc_id ASC, p1 ASC) AS rn
        FROM spans) WHERE rn >= 2),
    cut AS (SELECT DISTINCT doc_id, u.tp
            FROM removable, unnest(range(p1, tend + 1)) AS u(tp)),
    toks_pos AS (SELECT doc_id, u.i AS tp, otoks[u.i] AS tok
                 FROM t, unnest(range(1, len(otoks) + 1)) AS u(i)),
    joined AS (SELECT tp2.doc_id, tp2.tok, tp2.tp,
                      (c.tp IS NOT NULL) AS removed
               FROM toks_pos tp2 LEFT JOIN cut c
                 ON tp2.doc_id = c.doc_id AND tp2.tp = c.tp
               WHERE tp2.doc_id IN (SELECT DISTINCT doc_id FROM cut))
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (removed) AS BIGINT) AS n_removed,
           CAST(count(*) FILTER (NOT removed) AS BIGINT) AS n_kept,
           coalesce(string_agg(tok, ' ' ORDER BY tp)
                    FILTER (NOT removed), '') AS dedup_text
    FROM joined GROUP BY doc_id
    """,
)
def q_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span REMOVAL — the emit step Lee et al.'s
    ExactSubstr dedup actually ships (ACL 2022 §4.1): cut every
    duplicated run of ≥8 consecutive shared 5-grams (≥12-token spans,
    the scaled-down analog of the paper's 50-token threshold), keep
    the one canonical occurrence per exact-content cluster, and emit
    the deduplicated text plus reclaimed-token accounting for each
    affected document (``n_kept + n_removed == n_tokens`` by
    construction — pinned by tests/test_span_removal.py). All logic in
    :func:`operators.dedup.span_removal`; the oracle reconstructs the
    identical cut text via substring arithmetic over the same island
    bounds. Token arrays never enter a gram-keyed exchange — two
    doc-keyed inner joins only (span-content slice, final cut)."""

    d = _t(spark, sf_dir, "documents")
    return span_removal(d, "text", "doc_id", n=5, min_run=8)


@register("span_removal_between", SPAN_BETWEEN_ORACLE)
def q_span_removal_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL span dedup — new-crawl-vs-corpus, the production
    shape (round-10 verdict #6): the ``doc_id % 4 = 0`` quarter of
    documents plays the incoming batch, the rest the existing corpus;
    every batch run of ≥8 consecutive 5-grams already present in the
    corpus's distinct gram-hash table is cut (the canonical occurrence
    lives in the corpus, so no clustering/keep-one pass). Strictly
    cross-relation (batch-internal duplication is span_removal's job),
    so the answer is independent of batch slicing — pinned by
    tests/test_span_removal_between.py. All logic in
    :func:`operators.dedup.span_removal_between`; the corpus ships
    only 8-byte gram hashes into the semi-join."""

    d = _t(spark, sf_dir, "documents")
    return span_removal_between(
        d.filter(F.col("doc_id") % 4 == 0),
        d.filter(F.col("doc_id") % 4 != 0),
        "text",
        "doc_id",
        n=5,
        min_run=8,
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval fusion + boilerplate screening (round-3 batch 2)
# ---------------------------------------------------------------------------

@register(
    "hybrid_rrf_search",
    f"""
    WITH a AS ({_BM25_ORACLE}),
    toksb AS (SELECT doc_id, unnest({LTOKS}) AS tok FROM documents),
    tfb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tf_sum
            FROM toksb
            WHERE tok IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
            GROUP BY 1),
    b AS (SELECT doc_id, rk FROM (
            SELECT doc_id, row_number() OVER (
              ORDER BY tf_sum DESC, doc_id ASC) AS rk
            FROM tfb) WHERE rk <= 20),
    fused AS (
      SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
             a.rank AS bm25_rank,
             CAST(b.rk AS BIGINT) AS tf_rank,
             coalesce(1000000 // (60 + a.rank), 0)
             + coalesce(1000000 // (60 + b.rk), 0) AS rrf_micro
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
    SELECT doc_id, bm25_rank, tf_rank, CAST(rrf_micro AS BIGINT) AS rrf_micro,
           CAST(fused_rank AS BIGINT) AS fused_rank
    FROM (SELECT *, row_number() OVER (
            ORDER BY rrf_micro DESC, doc_id ASC) AS fused_rank FROM fused)
    WHERE fused_rank <= 10
    """,
)
def q_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of two rankers
    for the same query: BM25 (length-normalized probabilistic) and raw
    term frequency — the fusion step every hybrid retrieval stack runs
    over its lexical and dense legs. RRF weights are integer
    micro-units (``1e6 div (60 + rank)``), so fusion scores are exact
    and engine-portable; unmatched docs contribute 0 from the missing
    leg via the full outer join. Ranker outputs are top-k relations
    (k=20), so everything past the two ranking passes is
    constant-sized.

    Round 14: both legs read the SAME single-tokenize-pass aggregate
    (``_bm25_doc_tf``) — leg b's tf_sum is the row-sum of the per-term
    tf columns (identical to counting matching tokens), so the whole
    fusion runs ONE corpus pass where the pre-r14 shape ran three
    (receipts in the helper's docstring)."""
    a = q_bm25_search(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("bm25_rank")
    )
    wide = _bm25_doc_tf(spark, sf_dir)
    # the dl > 0 conjunct is provably true (dl = count(*) of a group
    # that exists ⇒ ≥ 1) and exists ONLY so this branch still
    # references dl: without it, column pruning drops count(1) from
    # this branch's copy of the aggregate, the subtree stops being
    # canonically equal to leg a's, and the tokenize pass runs twice
    # (probed r14 — reuse held at sf0.1 only via the small-scan
    # repartition stage, i.e. not at scale). Value-identical output.
    tfb = (
        wide.select(
            "doc_id",
            "dl",
            sum(F.col(f"tf_{i}") for i in range(len(_BM25_TERMS))).alias(
                "tf_sum"
            ),
        )
        .filter((F.col("tf_sum") > 0) & (F.col("dl") > 0))
        .select("doc_id", "tf_sum")
    )
    wb = Window.orderBy(F.desc("tf_sum"), F.asc("doc_id"))
    b = (
        tfb.withColumn("tf_rank", F.row_number().over(wb).cast("long"))
        .filter(F.col("tf_rank") <= 20)
        .select("doc_id", "tf_rank")
    )
    fused = (
        a.join(b, on="doc_id", how="full_outer")
        .withColumn(
            "rrf_micro",
            (
                F.coalesce(
                    F.expr("div(1000000, 60 + bm25_rank)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr("div(1000000, 60 + tf_rank)"), F.lit(0)
                )
            ).cast("long"),
        )
    )
    wf = Window.orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("fused_rank") <= 10)
        .select("doc_id", "bm25_rank", "tf_rank", "rrf_micro", "fused_rank")
    )


@register(
    "boilerplate_gram_coverage",
    f"""
    WITH t AS (SELECT doc_id, {LTOKS} AS toks FROM documents),
    g AS (SELECT doc_id, unnest({GRAMS5}) AS gram FROM t),
    df AS (SELECT gram, count(*) AS df FROM g GROUP BY 1),
    hot AS (SELECT gram FROM (
              SELECT gram, row_number() OVER (
                ORDER BY df DESC, gram ASC) AS rk
              FROM df) WHERE rk <= 20),
    cov AS (SELECT g.doc_id, count(*) AS n_grams,
                   sum(CASE WHEN hot.gram IS NOT NULL THEN 1 ELSE 0 END)
                     AS n_hot
            FROM g LEFT JOIN hot ON g.gram = hot.gram
            GROUP BY 1)
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_hot AS BIGINT) AS n_hot,
           floor(CAST(n_hot AS DOUBLE) / n_grams * 1000000.0 + 0.5)
             / 1000000.0 AS hot_frac
    FROM cov WHERE n_hot > 0
    """,
)
def q_boilerplate_gram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate screening (the C4/CCNet hot-phrase heuristic): find
    the corpus's 20 most document-frequent word-5-grams — navigation
    chrome, cookie banners, license footers in a real crawl — and
    report, per affected document, what fraction of its distinct grams
    are hot. Downstream a curation pass drops or trims high-fraction
    docs. The hot set is a top-k over the VOCABULARY relation and
    broadcasts back onto the gram stream; per-doc coverage is one
    aggregate."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.transform(token_array(F.col("text")), lambda x: F.lower(x)).alias(
            "toks"
        ),
    )
    g = toks.select(
        "doc_id",
        F.explode(word_shingles_of_tokens(F.col("toks"), 5)).alias("gram"),
    )
    df_ = g.groupBy("gram").agg(F.count("*").alias("df"))
    wh = Window.orderBy(F.desc("df"), F.asc("gram"))
    hot = (
        df_.withColumn("rk", F.row_number().over(wh))
        .filter(F.col("rk") <= 20)
        .select("gram", F.lit(1).alias("_hot"))
    )
    cov = (
        g.join(F.broadcast(hot), on="gram", how="left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hot"), F.lit(0))).alias("n_hot"),
        )
    )
    return cov.filter(F.col("n_hot") > 0).select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_hot").cast("long").alias("n_hot"),
        round_portable(
            F.col("n_hot").cast("double") / F.col("n_grams"), 6
        ).alias("hot_frac"),
    )


@register(
    "dataset_card_summary",
    f"""
    WITH t AS (SELECT doc_id, lang, source, md5(text) AS fp,
                      len({LTOKS}) AS n_toks
               FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(n_toks AS BIGINT)) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           floor(CAST(sum(CAST(n_toks AS BIGINT)) AS DOUBLE) / count(*)
                 * 10000.0 + 0.5) / 10000.0 AS mean_doc_tokens,
           CAST(sum(CASE WHEN n_toks < 50 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_short_docs,
           floor((1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*))
                 * 1000000.0 + 0.5) / 1000000.0 AS exact_dup_rate
    FROM t
    """,
)
def q_dataset_card_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card header in one pass: corpus size, token volume,
    language/source coverage, short-doc count, and the exact-duplicate
    rate (1 − distinct fingerprints / docs) — the numbers every
    published dataset reports first. One scan computes all seven
    measures (count-distincts expand to their standard two-phase
    plans); nothing is materialized but the single summary row."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        "source",
        F.md5("text").alias("fp"),
        F.size(
            F.transform(token_array(F.col("text")), lambda x: F.lower(x))
        ).alias("n_toks"),
    )
    return t.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("n_toks").cast("long")).cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        round_portable(
            F.sum(F.col("n_toks").cast("long")).cast("double")
            / F.count("*"),
            4,
        ).alias("mean_doc_tokens"),
        F.sum((F.col("n_toks") < 50).cast("int"))
        .cast("long")
        .alias("n_short_docs"),
        round_portable(
            F.lit(1.0)
            - F.countDistinct("fp").cast("double") / F.count("*"),
            6,
        ).alias("exact_dup_rate"),
    )


@register(
    "rerank_crossencoder_stub",
    f"""
    WITH a AS ({_BM25_ORACLE}),
    scored AS (
      SELECT doc_id,
             ('0x' || substr(md5('rr:' || CAST(doc_id AS VARCHAR)), 1, 15))
               ::BIGINT AS ce_score
      FROM a)
    SELECT doc_id, ce_score, CAST(rk AS BIGINT) AS ce_rank
    FROM (SELECT *, row_number() OVER (
            ORDER BY ce_score DESC, doc_id ASC) AS rk FROM scored)
    WHERE rk <= 5
    """,
)
def q_rerank_crossencoder_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: BM25 top-20 reranked by a cross-encoder
    STAGE whose Arrow plumbing is real and whose model is a
    deterministic stub (no model runtime in this container; the oracle
    reproduces the stub's md5 score in SQL). The pattern every modern
    search stack runs — cheap recall stage feeding an expensive
    precision stage over a constant-sized candidate set. See
    operators.text.crossencoder_rerank_stub."""

    cands = q_bm25_search(spark, sf_dir)
    return crossencoder_rerank_stub(cands, topk=5)


@register(
    "multimodal_blob_dedup",
    """
    WITH b AS (SELECT doc_id, md5(substr(text, 1, 60)) AS blob_hash,
                      octet_length(encode(substr(text, 1, 60))) AS byte_len
               FROM documents)
    SELECT blob_hash,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(doc_id) AS BIGINT) AS keeper_id,
           CAST((count(*) - 1) * min(byte_len) AS BIGINT)
             AS bytes_reclaimable
    FROM b GROUP BY 1 HAVING count(*) >= 2
    """,
)
def q_multimodal_blob_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressable dedup of BINARY payloads: hash the blob
    column, group, report duplicate groups and reclaimable bytes — the
    storage-dedup pass a multimodal lake runs before any pixel-level
    near-dup (identical files are the overwhelming duplicate class in
    crawled media). The payload here is the 60-char text prefix cast
    to binary — a deterministic stand-in for a thumbnail/preview blob
    with a realistic duplicate rate; the Spark side hashes the BINARY
    column itself, the oracle hashes the string it derives from (same
    bytes). One scan-local hash + one groupBy."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "payload", F.substring(F.col("text"), 1, 60).cast("binary")
    )
    return (
        d.select(
            "doc_id",
            F.md5(F.col("payload")).alias("blob_hash"),
            F.length(F.col("payload")).cast("long").alias("byte_len"),
        )
        .groupBy("blob_hash")
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.min("doc_id").cast("long").alias("keeper_id"),
            ((F.count("*") - 1) * F.min("byte_len"))
            .cast("long")
            .alias("bytes_reclaimable"),
        )
        .filter(F.col("n_copies") >= 2)
    )


@register(
    "retrieval_mrr_ndcg",
    f"""
    WITH a AS ({_BM25_ORACLE}),
    rel AS (
      SELECT doc_id FROM (
        SELECT doc_id, count(DISTINCT tok) AS hit
        FROM (SELECT doc_id, unnest({LTOKS}) AS tok FROM documents)
        WHERE tok IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
        GROUP BY 1) WHERE hit = 3),
    joined AS (SELECT a.rank,
                      CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END
                        AS is_rel
               FROM a LEFT JOIN rel ON a.doc_id = rel.doc_id),
    firstrel AS (SELECT min(rank) AS fr FROM joined WHERE is_rel = 1),
    dcg AS (SELECT CAST(sum(CAST(1.0 / (ln(rank + 1.0) / ln(2.0))
                                 AS DECIMAL(18,12))) AS DOUBLE) AS dcg
            FROM joined WHERE is_rel = 1 AND rank <= 10),
    nrel AS (SELECT CAST(count(*) AS BIGINT) AS n_relevant FROM rel),
    idcg AS (SELECT CAST(sum(CAST(1.0 / (ln(i.i + 1.0) / ln(2.0))
                                  AS DECIMAL(18,12))) AS DOUBLE) AS idcg
             FROM (SELECT unnest(range(1, 11)) AS i) i, nrel
             WHERE i.i <= least(nrel.n_relevant, 10))
    SELECT nrel.n_relevant,
           CAST(coalesce(firstrel.fr, 0) AS BIGINT) AS first_rel_rank,
           CASE WHEN firstrel.fr IS NULL THEN 0.0
                ELSE floor(1.0 / firstrel.fr * 1000000.0 + 0.5)
                     / 1000000.0 END AS mrr,
           CASE WHEN idcg.idcg IS NULL OR idcg.idcg = 0 THEN 0.0
                ELSE floor(coalesce(dcg.dcg, 0) / idcg.idcg
                           * 1000000.0 + 0.5) / 1000000.0 END AS ndcg10
    FROM nrel, firstrel, dcg, idcg
    """,
)
def q_retrieval_mrr_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval quality metrics for the BM25 ranking: MRR (reciprocal
    rank of the first relevant hit) and binary-relevance nDCG@10,
    where relevance = documents containing ALL query terms (the
    conjunctive set is the ground truth a lexical ranker should
    surface first). DCG terms quantize to DECIMAL(18,12) before
    summation; the metric relations are all constant-sized, so the
    evaluation costs one ranking pass plus one conjunctive-match
    aggregate — the ann_recall_at_k / lsh_recall_eval pattern applied
    to ranked text retrieval."""
    from pyspark.sql import Window  # noqa: F401 (symmetry with peers)

    d = _t(spark, sf_dir, "documents")
    ranking = q_bm25_search(spark, sf_dir).select("doc_id", "rank")
    toks = d.select(
        "doc_id", F.explode(token_array(F.col("text"))).alias("_raw")
    ).select("doc_id", F.lower(F.col("_raw")).alias("tok"))
    rel = (
        toks.filter(F.col("tok").isin(_BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.countDistinct("tok").alias("hit"))
        .filter(F.col("hit") == 3)
        .select("doc_id", F.lit(1).alias("is_rel"))
    )
    joined = ranking.join(F.broadcast(rel), on="doc_id", how="left").select(
        "rank", F.coalesce(F.col("is_rel"), F.lit(0)).alias("is_rel")
    )
    firstrel = joined.filter(F.col("is_rel") == 1).agg(
        F.min("rank").alias("fr")
    )
    log2 = lambda c: F.ln(c) / F.ln(F.lit(2.0))  # noqa: E731
    dcg = (
        joined.filter((F.col("is_rel") == 1) & (F.col("rank") <= 10))
        .select(
            (F.lit(1.0) / log2(F.col("rank") + 1.0))
            .cast("decimal(18,12)")
            .alias("t")
        )
        .agg(F.sum("t").cast("double").alias("dcg"))
    )
    nrel = rel.agg(F.count("*").cast("long").alias("n_relevant"))
    ideal = (
        spark.range(1, 11)
        .crossJoin(F.broadcast(nrel))
        .filter(F.col("id") <= F.least(F.col("n_relevant"), F.lit(10)))
        .select(
            (F.lit(1.0) / log2(F.col("id") + 1.0))
            .cast("decimal(18,12)")
            .alias("t")
        )
        .agg(F.sum("t").cast("double").alias("idcg"))
    )
    return (
        nrel.crossJoin(firstrel)
        .crossJoin(dcg)
        .crossJoin(ideal)
        .select(
            "n_relevant",
            F.coalesce(F.col("fr"), F.lit(0))
            .cast("long")
            .alias("first_rel_rank"),
            F.when(F.col("fr").isNull(), F.lit(0.0))
            .otherwise(round_portable(F.lit(1.0) / F.col("fr"), 6))
            .alias("mrr"),
            F.when(
                F.col("idcg").isNull() | (F.col("idcg") == 0), F.lit(0.0)
            )
            .otherwise(
                round_portable(
                    F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg"),
                    6,
                )
            )
            .alias("ndcg10"),
        )
    )


@register(
    "vocab_similarity_langs",
    f"""
    WITH v AS (SELECT DISTINCT lang, lower(tok) AS tok
               FROM (SELECT lang, unnest({TOKS}) AS tok FROM documents)),
    sz AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
    inter AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
                     CAST(count(*) AS BIGINT) AS n_common
              FROM v a JOIN v b ON a.tok = b.tok AND a.lang < b.lang
              GROUP BY 1, 2)
    SELECT i.lang_a, i.lang_b, i.n_common,
           sa.n AS n_a, sb.n AS n_b,
           floor(CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common)
                 * 1000000.0 + 0.5) / 1000000.0 AS jaccard,
           floor(2.0 * i.n_common / (sa.n + sb.n) * 1000000.0 + 0.5)
             / 1000000.0 AS dice,
           floor(CAST(i.n_common AS DOUBLE) / least(sa.n, sb.n)
                 * 1000000.0 + 0.5) / 1000000.0 AS overlap_coef
    FROM inter i
    JOIN sz sa ON sa.lang = i.lang_a
    JOIN sz sb ON sb.lang = i.lang_b
    """,
)
def q_vocab_similarity_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-slice vocabulary similarity matrix: for every language
    pair, shared-token count with Jaccard, Dice, and the overlap
    coefficient — the corpus-comparison triple behind "are these two
    slices the same register / is one a subset". The vocabulary
    relation is token-keyed, so the pair intersection is an
    inverted-index equi-join on the token (no slice ever meets another
    slice's full vocabulary), and the outputs are k²-sized."""
    d = _t(spark, sf_dir, "documents")
    v = (
        d.select(
            "lang",
            F.explode(token_array(F.col("text"))).alias("_raw"),
        )
        .select("lang", F.lower(F.col("_raw")).alias("tok"))
        .distinct()
    )
    sz = v.groupBy("lang").agg(F.count("*").cast("long").alias("n"))
    a = v.select(F.col("lang").alias("lang_a"), "tok")
    b = v.select(F.col("lang").alias("lang_b"), "tok")
    inter = (
        a.join(b, on="tok")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sa = sz.select(F.col("lang").alias("lang_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("lang").alias("lang_b"), F.col("n").alias("n_b"))
    out = inter.join(F.broadcast(sa), on="lang_a").join(
        F.broadcast(sb), on="lang_b"
    )
    union = F.col("n_a") + F.col("n_b") - F.col("n_common")
    return out.select(
        "lang_a",
        "lang_b",
        "n_common",
        "n_a",
        "n_b",
        round_portable(F.col("n_common").cast("double") / union, 6).alias(
            "jaccard"
        ),
        round_portable(
            F.lit(2.0) * F.col("n_common") / (F.col("n_a") + F.col("n_b")),
            6,
        ).alias("dice"),
        round_portable(
            F.col("n_common").cast("double")
            / F.least(F.col("n_a"), F.col("n_b")),
            6,
        ).alias("overlap_coef"),
    )


@register(
    "lid_macro_f1",
    f"""
    WITH cm AS ({_LID_CONFUSION_ORACLE}),
    langs AS (SELECT DISTINCT lang FROM cm),
    tp AS (SELECT lang, CAST(coalesce(sum(CASE WHEN lang = lang_pred
                         THEN n_docs END), 0) AS BIGINT) AS tp
           FROM cm GROUP BY 1),
    rowsum AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS actual_n
               FROM cm GROUP BY 1),
    colsum AS (SELECT lang_pred AS lang, CAST(sum(n_docs) AS BIGINT)
                 AS pred_n
               FROM cm GROUP BY 1),
    prf AS (
      SELECT l.lang, tp.tp,
             r.actual_n,
             coalesce(c.pred_n, 0) AS pred_n,
             CASE WHEN coalesce(c.pred_n, 0) > 0
                  THEN CAST(tp.tp AS DOUBLE) / c.pred_n ELSE 0.0 END AS p,
             CASE WHEN r.actual_n > 0
                  THEN CAST(tp.tp AS DOUBLE) / r.actual_n ELSE 0.0 END AS rc
      FROM langs l
      JOIN tp ON tp.lang = l.lang
      JOIN rowsum r ON r.lang = l.lang
      LEFT JOIN colsum c ON c.lang = l.lang)
    SELECT lang, tp, actual_n, pred_n,
           floor(p * 1000000.0 + 0.5) / 1000000.0 AS precision_,
           floor(rc * 1000000.0 + 0.5) / 1000000.0 AS recall_,
           CASE WHEN p + rc > 0
                THEN floor(2.0 * p * rc / (p + rc) * 1000000.0 + 0.5)
                     / 1000000.0
                ELSE 0.0 END AS f1
    FROM prf
    """,
)
def q_lid_macro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language precision/recall/F1 of the stopword language-ID
    rule, derived from its confusion matrix — the scalar evaluation
    layer on top of char_ngram_lid_confusion (TP = diagonal, FP =
    column minus diagonal, FN = row minus diagonal). All metric
    relations are k-languages-sized; only the confusion build touches
    the corpus."""
    cm = q_char_ngram_lid_confusion(spark, sf_dir)
    tp = cm.filter(F.col("lang") == F.col("lang_pred")).select(
        "lang", F.col("n_docs").alias("tp")
    )
    rowsum = cm.groupBy("lang").agg(
        F.sum("n_docs").cast("long").alias("actual_n")
    )
    colsum = cm.groupBy(F.col("lang_pred").alias("lang")).agg(
        F.sum("n_docs").cast("long").alias("pred_n")
    )
    prf = (
        rowsum.join(tp, on="lang", how="left")
        .join(colsum, on="lang", how="left")
        .select(
            "lang",
            F.coalesce(F.col("tp"), F.lit(0)).cast("long").alias("tp"),
            "actual_n",
            F.coalesce(F.col("pred_n"), F.lit(0))
            .cast("long")
            .alias("pred_n"),
        )
    )
    p = F.when(
        F.col("pred_n") > 0, F.col("tp").cast("double") / F.col("pred_n")
    ).otherwise(F.lit(0.0))
    rc = F.when(
        F.col("actual_n") > 0,
        F.col("tp").cast("double") / F.col("actual_n"),
    ).otherwise(F.lit(0.0))
    prf = prf.withColumn("p", p).withColumn("rc", rc)
    return prf.select(
        "lang",
        "tp",
        "actual_n",
        "pred_n",
        round_portable(F.col("p"), 6).alias("precision_"),
        round_portable(F.col("rc"), 6).alias("recall_"),
        F.when(
            F.col("p") + F.col("rc") > 0,
            round_portable(
                F.lit(2.0)
                * F.col("p")
                * F.col("rc")
                / (F.col("p") + F.col("rc")),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("f1"),
    )


@register(
    "jaccard_threshold_sweep",
    f"""
    WITH found AS ({_minhash_oracle(num_hashes=8, bands=4, thr=0.5, n=5,
                                    family="md5")})
    SELECT CASE WHEN jaccard >= 0.9 THEN '0.9+'
                WHEN jaccard >= 0.8 THEN '0.8-0.9'
                WHEN jaccard >= 0.7 THEN '0.7-0.8'
                WHEN jaccard >= 0.6 THEN '0.6-0.7'
                ELSE '0.5-0.6' END AS band,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM found GROUP BY 1
    """,
)
def q_jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-rate-vs-threshold curve from ONE LSH pass: verified pairs
    at a permissive 0.5 floor, banded by similarity — the
    capacity-planning view ("how much more would we delete at 0.7 vs
    0.8") that otherwise costs one full dedup run per candidate
    threshold. Uses the same MinHash banding as dedup_minhash_lsh;
    only the verification floor moves."""
    d = _t(spark, sf_dir, "documents")
    found = minhash_lsh_pairs(
        d,
        "doc_id",
        "text",
        n=5,
        num_hashes=8,
        bands=4,
        threshold=0.5,
        hash_family="md5",
    )
    band = (
        F.when(F.col("jaccard") >= 0.9, F.lit("0.9+"))
        .when(F.col("jaccard") >= 0.8, F.lit("0.8-0.9"))
        .when(F.col("jaccard") >= 0.7, F.lit("0.7-0.8"))
        .when(F.col("jaccard") >= 0.6, F.lit("0.6-0.7"))
        .otherwise(F.lit("0.5-0.6"))
    )
    return found.groupBy(band.alias("band")).agg(
        F.count("*").cast("long").alias("n_pairs")
    )


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (hashed n-gram LLR)
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 4096
_DSIR_TARGET = ("src1", "src2", "src3")

#: shared CTE chain ending in ``doc(doc_id, n_tokens, weight_micro)``
#: — the raw-pool document weights both DSIR oracles select from
_DSIR_DOC_CTE = f"""
    WITH toks AS (
      SELECT doc_id,
             source IN ('src1', 'src2', 'src3') AS is_t,
             (('0x' || substr(md5('dsir:' || tok), 1, 15))::BIGINT
              % {_DSIR_BUCKETS}) AS b
      FROM (SELECT doc_id, source, unnest({LTOKS}) AS tok
            FROM documents)),
    bm AS (
      SELECT b,
             CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
             CAST(sum(CASE WHEN NOT is_t THEN 1 ELSE 0 END) AS BIGINT)
               AS nr
      FROM toks GROUP BY 1),
    tot AS (
      SELECT CAST(sum(nt) AS BIGINT) AS n_t_total,
             CAST(sum(nr) AS BIGINT) AS n_r_total
      FROM bm),
    lam AS (
      SELECT b,
             {sql_quantize_micro9(sql_ln_ratio(
                 f"((bm.nt + 1) * (tot.n_r_total + {_DSIR_BUCKETS}))",
                 f"((bm.nr + 1) * (tot.n_t_total + {_DSIR_BUCKETS}))"))}
               AS lam
      FROM bm, tot),
    doc AS (
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(l.lam) AS BIGINT) AS weight_micro
      FROM toks t JOIN lam l USING (b)
      WHERE NOT t.is_t
      GROUP BY 1)
"""


@register(
    "dsir_importance_weights",
    _DSIR_DOC_CTE
    + """
    SELECT doc_id, n_tokens, weight_micro
    FROM doc ORDER BY weight_micro DESC, doc_id ASC LIMIT 20
    """,
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.,
    NeurIPS 2023): score every RAW-pool document by the log-likelihood
    ratio of a hashed-n-gram bag model between a TARGET domain and the
    raw pool, then take the top of the raw pool — the modern
    pretraining recipe for tilting a web crawl toward a quality domain
    without training a classifier. Here sources src1-3 stand in for the
    target domain, hashed lowercase unigrams (md5 mod 4096) for DSIR's
    hashed n-gram features, and selection is the deterministic top-20
    by weight (DSIR's Gumbel-noise resampling variant would add a
    per-doc random key; the ranking weight is identical).

    Bit-portability: per-bucket LLR terms ``ln((n_t(b)+1)(N_r+B)) −
    ln((n_r(b)+1)(N_t+B))`` ride ``ln_ratio_portable`` (exact-int
    arguments, correctly-rounded double ops in fixed order) and
    quantize to int64 micro-units, so each document's weight is an
    EXACT integer sum — order-independent across partitions and
    engines. Argument bound: ``(n(b)+1)·(N+B) < 2^63`` holds to ~3e9
    tokens per arm; shard the counts (or drop to per-bucket doubles)
    beyond.

    Scale: the bucket model is ≤ 4096 rows — one aggregation over the
    token stream, then a BROADCAST join back onto it; the per-doc sum
    shuffles once on doc_id; top-20 is TakeOrderedAndProject (no global
    sort). The token stream is never shuffled with its text."""
    doc = _dsir_doc_weights(spark, sf_dir)
    return doc.orderBy(
        F.desc("weight_micro"), F.asc("doc_id")
    ).limit(20)


def _dsir_doc_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-pool per-document DSIR weights ``(doc_id, n_tokens,
    weight_micro)`` — the relation both the deterministic top-k and
    the Gumbel resampling variant select from (SQL twin:
    ``_DSIR_DOC_CTE``). See ``q_dsir_importance_weights`` for the
    scale/portability argument."""
    d = _t(spark, sf_dir, "documents")
    is_t = F.col("source").isin(*_DSIR_TARGET)
    toks = d.select(
        "doc_id",
        is_t.alias("is_t"),
        F.explode(token_array(F.col("text"))).alias("_raw"),
    ).select(
        "doc_id",
        "is_t",
        (md5_long(F.lower(F.col("_raw")), salt="dsir") % _DSIR_BUCKETS).alias(
            "b"
        ),
    )
    # Two-pass formulation KEPT after a measured round-9 attempt to
    # single-pass it (collapse to (doc, arm, bucket) counts feeding
    # both the bucket model and the weight pass): exchange reuse
    # cannot dedup the shared aggregate because Catalyst pushes the
    # weight pass's ~is_t filter THROUGH the groupBy into its scan,
    # making the subtrees canonically different, and materializing
    # with localCheckpoint both runs the shuffle at BUILD time under
    # AQE (leaking work out of bench samples — builds-run-no-jobs
    # fence) and regresses the honest per-sample cost. SCALE.md
    # "DSIR single-pass attempt" has the numbers.
    bm = toks.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("nt"),
        F.sum(F.when(~F.col("is_t"), 1).otherwise(0)).alias("nr"),
    )
    tot = bm.agg(
        F.sum("nt").alias("n_t_total"), F.sum("nr").alias("n_r_total")
    )
    lam = bm.crossJoin(F.broadcast(tot)).select(
        "b",
        quantize_micro9(
            ln_ratio_portable(
                (F.col("nt") + 1)
                * (F.col("n_r_total") + F.lit(_DSIR_BUCKETS)),
                (F.col("nr") + 1)
                * (F.col("n_t_total") + F.lit(_DSIR_BUCKETS)),
            )
        ).alias("lam"),
    )
    return (
        toks.filter(~F.col("is_t"))
        .join(F.broadcast(lam), on="b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.col("lam").cast("decimal(38,0)"))
            .cast("long")
            .alias("weight_micro"),
        )
    )


@register(
    "dsir_gumbel_sample",
    _DSIR_DOC_CTE
    + f""",
    gum AS (
      SELECT doc_id,
             ('0x' || substr(md5('gmb7:' || CAST(doc_id AS VARCHAR)),
              1, 15))::BIGINT AS m
      FROM doc),
    t1 AS (SELECT doc_id,
                  {sql_ln_ratio('1152921504606846977', '(m + 1)')} AS t
           FROM gum),
    t2 AS (SELECT doc_id,
                  greatest(CAST(CAST(CAST(t AS DECIMAL(18,15))
                    AS DECIMAL(34,15)) * 1000000000000000 AS BIGINT),
                    1) AS bigt
           FROM t1),
    t3 AS (SELECT doc_id,
                  {sql_quantize_micro9(sql_ln_ratio('1000000000000000', 'bigt'))}
                    AS gumbel_micro
           FROM t2),
    sel AS (
      SELECT d.doc_id, d.n_tokens, d.weight_micro,
             CAST(t3.gumbel_micro AS BIGINT) AS gumbel_micro,
             CAST(d.weight_micro + t3.gumbel_micro AS BIGINT) AS key_micro
      FROM doc d JOIN t3 USING (doc_id))
    SELECT doc_id, n_tokens, weight_micro, gumbel_micro, key_micro
    FROM sel ORDER BY key_micro DESC, doc_id ASC LIMIT 20
    """,
)
def q_dsir_gumbel_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's ACTUAL selection step — Gumbel-top-k importance
    RESAMPLING (Xie et al., NeurIPS 2023 §3; Vieira 2014's
    Gumbel-max trick): sample k raw-pool documents without
    replacement with probability ∝ exp(weight) by ranking on
    ``weight + G_i`` where ``G_i = −ln(−ln u_i)`` is standard Gumbel
    noise — the variant ``dsir_importance_weights``' docstring
    deferred.

    The draw is DETERMINISTIC and engine-portable end to end:
    ``u_i = (m+1)/(2^60+1)`` from the seeded 60-bit md5 of the doc id
    (like ``sample_weighted``'s draw), ``−ln u_i`` via the
    bit-portable integer-ratio ln (both arguments exact int64), the
    intermediate re-quantized to femto-units (double→DECIMAL(18,15)
    — the one double→decimal cast both engines perform identically —
    clamped to ≥1), and the outer ``−ln`` again as an integer-ratio
    ln of ``10^15 / T``. Every step is either exact integer
    arithmetic or the portable-ln construction, so DuckDB recomputes
    the IDENTICAL Gumbel key bit for bit — the resampling itself,
    not just the ranking weight, is covered cross-engine.

    Scale: the Gumbel key is a per-row projection on the per-doc
    weight relation (no extra shuffle beyond
    ``dsir_importance_weights``); top-20 is TakeOrderedAndProject."""
    doc = _dsir_doc_weights(spark, sf_dir)
    # each stage lands in its own column: the portable-ln Horner chain
    # replicates its ARGUMENT subtree per term, so nesting the two ln
    # expansions as one Column expression blows the analysis tree up
    # exponentially (observed: analyzer OOM) — attribute references
    # keep it linear, and whole-stage codegen still fuses the chain
    sel = (
        doc.withColumn(
            "_m", md5_long(F.col("doc_id").cast("string"), salt="gmb7")
        )
        .withColumn(
            "_t",
            ln_ratio_portable(
                F.lit((1 << 60) + 1).cast("long"),
                (F.col("_m") + F.lit(1)).cast("long"),
            ),
        )
        .withColumn(
            "_bigt",
            F.greatest(
                (F.col("_t").cast("decimal(18,15)") * F.lit(10**15)).cast(
                    "long"
                ),
                F.lit(1).cast("long"),
            ),
        )
        .withColumn(
            "_g",
            quantize_micro9(
                ln_ratio_portable(
                    F.lit(10**15).cast("long"), F.col("_bigt")
                )
            ),
        )
        .select(
            "doc_id",
            "n_tokens",
            "weight_micro",
            F.col("_g").cast("long").alias("gumbel_micro"),
            (F.col("weight_micro") + F.col("_g"))
            .cast("long")
            .alias("key_micro"),
        )
    )
    return sel.orderBy(F.desc("key_micro"), F.asc("doc_id")).limit(20)


# ---------------------------------------------------------------------------
# Temperature-based mixture plan (multilingual sampling, XLM-R style)
# ---------------------------------------------------------------------------


@register(
    "mixture_temperature_plan",
    f"""
    WITH toks AS (
      SELECT source, len({LTOKS}) AS n
      FROM documents),
    per_src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n) AS BIGINT) AS n_tokens
      FROM toks GROUP BY 1),
    q AS (
      SELECT source, n_docs, n_tokens,
             {sql_quantize_micro9("sqrt(CAST(n_tokens AS DOUBLE))")}
               AS sq_micro
      FROM per_src),
    tot AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS tok_total,
             CAST(sum(sq_micro) AS BIGINT) AS sq_total
      FROM q)
    SELECT source, n_docs, n_tokens,
           floor(CAST(n_tokens AS DOUBLE) / CAST(tok_total AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS token_share,
           floor(CAST(sq_micro AS DOUBLE) / CAST(sq_total AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS temp_share,
           floor(CAST(sq_micro AS DOUBLE) / CAST(sq_total AS DOUBLE)
                 / (CAST(n_tokens AS DOUBLE) / CAST(tok_total AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS epochs_rel
    FROM q, tot
    """,
)
def q_mixture_temperature_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture plan (Conneau et al., XLM-R §3.1; the
    multilingual-pretraining sampling rule): per source, resample with
    probability ∝ tokensᵗ (τ = 0.5) instead of raw token share, so
    low-resource sources are up-sampled and head sources down-sampled.
    Output per source: raw token share, the τ-tempered share, and
    ``epochs_rel`` — the relative number of epochs over that source the
    tempered mixture implies (> 1 = up-sampled), the number a data
    loader actually consumes.

    Portability: each √tokens is one correctly-rounded IEEE op over an
    exactly-cast int; the MIXING DENOMINATOR Σ√tokensᵢ is where
    engines could diverge (double summation is order-dependent), so
    each term quantizes to int64 micro-units and the denominator is an
    exact integer sum — the module's standard integer-lane trick. The
    final shares are single double divisions of exact integers,
    rounded in-query.

    Scale: one aggregation to a sources-sized relation (~20 rows), a
    broadcast scalar pair, and per-row arithmetic — nothing else."""
    d = _t(spark, sf_dir, "documents")
    per_src = d.select(
        "source", F.size(token_array(F.col("text"))).alias("n")
    ).groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n").cast("long").alias("n_tokens"),
    )
    q = per_src.withColumn(
        "sq_micro",
        quantize_micro9(F.sqrt(F.col("n_tokens").cast("double"))),
    )
    tot = q.agg(
        F.sum("n_tokens").cast("long").alias("tok_total"),
        F.sum("sq_micro").cast("long").alias("sq_total"),
    )
    j = q.crossJoin(F.broadcast(tot))
    token_share = F.col("n_tokens").cast("double") / F.col(
        "tok_total"
    ).cast("double")
    temp_share = F.col("sq_micro").cast("double") / F.col(
        "sq_total"
    ).cast("double")
    return j.select(
        "source",
        "n_docs",
        "n_tokens",
        round_portable(token_share, 6).alias("token_share"),
        round_portable(temp_share, 6).alias("temp_share"),
        round_portable(temp_share / token_share, 6).alias("epochs_rel"),
    )
