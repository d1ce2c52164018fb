"""Text-analysis operators for training-data pipelines.

Beyond the reference's surface (per the north star in BASELINE.json):
language-ID, quality scoring, token counting and document
fingerprinting over a ``documents(doc_id, text, ...)`` table.

All pure Catalyst expressions (split/transform/filter/aggregate on
arrays + md5) — no Python UDFs, so they run JVM-side inside
whole-stage codegen and scale linearly with the scan; the only shuffle
any of these need is whatever aggregation the caller adds on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.functions.core import (
    round_portable,
    safe_div,
    token_array,
)
from air_quality_etl_pipeline_spark.operators.cache import materialize

#: Tiny per-language stopword lists for the n-gram/stopword LID heuristic.
#: Deliberately small + deterministic so the oracle can mirror them.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "la", "los", "y", "es"],
    "zh": ["的", "是", "了", "在", "和"],
}

ENGLISH_STOPWORDS = LANG_STOPWORDS["en"]


def tokens(text: Column) -> Column:
    """Whitespace tokens as an array column."""
    return token_array(text)


def token_count(text: Column) -> Column:
    """Token count (whitespace + regex segmentation)."""
    return F.size(token_array(text))


def unique_token_ratio(text: Column) -> Column:
    """|distinct tokens| / |tokens| — a repetition signal; NULL on empty."""
    toks = token_array(text)
    return safe_div(
        F.size(F.array_distinct(toks)).cast("double"),
        F.size(toks).cast("double"),
    )


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    """Share of tokens that are (lowercase) stopwords; NULL on empty."""
    sw = F.array(*[F.lit(s) for s in (stopwords or ENGLISH_STOPWORDS)])
    toks = F.transform(token_array(text), F.lower)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return safe_div(hits.cast("double"), F.size(toks).cast("double"))


def lang_scores_of_tokens(toks: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts over a (lowercased) token-array
    column. PERF: pass a materialized column reference — Catalyst does
    no CSE inside lambdas, so an inlined split re-evaluates per score."""
    out: dict[str, Column] = {}
    for lang, words in LANG_STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return out


def predicted_lang(text: Column) -> Column:
    """Heuristic language ID from raw text — see
    :func:`predicted_lang_of_tokens` (and prefer it with a materialized
    token column in hot paths)."""
    return predicted_lang_of_tokens(F.transform(token_array(text), F.lower))


def predicted_lang_of_tokens(toks: Column) -> Column:
    """Heuristic language ID: argmax of stopword hits, ties broken by
    language code order, 'und' when no list scores > 0.

    Implemented over a score ARRAY so the argmax is
    ``array_position(scores, array_max(scores))`` (first match ⇒
    deterministic tie order) — one evaluation per score, not a
    when-chain that re-evaluates every score expression per branch.
    """
    scores = lang_scores_of_tokens(toks)
    langs = sorted(scores)  # deterministic tie order
    score_arr = F.array(*[scores[lg].cast("int") for lg in langs])
    lang_arr = F.array(*[F.lit(lg) for lg in langs])
    best = F.array_max(score_arr)
    return F.when(best <= 0, F.lit("und")).otherwise(
        F.element_at(lang_arr, F.array_position(score_arr, best).cast("int"))
    )


def word_bigrams(toks: Column) -> Column:
    """Adjacent word 2-grams of a token array (``"t[i] t[i+1]"``);
    empty array below 2 tokens. Pure Catalyst — guard matters because
    ``sequence(1, 0)`` DESCENDS in Spark rather than yielding empty."""
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    return F.when(n < 2, F.array().cast("array<string>")).otherwise(grams)


def repetition_stats(
    df: DataFrame, text_col: str = "text", decimals: int = 4
) -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al. 2021,
    "Scaling Language Models", app. A1.1: duplicate-n-gram filters), as
    three appended columns:

    * ``dup_word_frac``   — 1 − |distinct tokens| / |tokens|
    * ``top_word_share``  — occurrences of the most frequent token / |tokens|
    * ``dup_bigram_frac`` — 1 − |distinct 2-grams| / |2-grams|

    All row-local array expressions — ZERO shuffles, the filter runs
    inside the scan. ``top_word_share`` is O(|distinct|·|tokens|) per
    row via filter-count; for book-length documents switch to the
    explode → count → max aggregate (two shuffles) instead.
    """
    toks = token_array(F.col(text_col))
    df = df.withColumn("_toks", toks).withColumn(
        "_grams", word_bigrams(F.col("_toks"))
    )
    n = F.size("_toks").cast("double")
    ng = F.size("_grams").cast("double")
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct("_toks"),
            lambda t: F.size(F.filter(F.col("_toks"), lambda x: x == t)),
        )
    ).cast("double")
    return (
        df.withColumn(
            "dup_word_frac",
            round_portable(
                F.lit(1.0) - safe_div(F.size(F.array_distinct("_toks")).cast("double"), n),
                decimals,
            ),
        )
        .withColumn("top_word_share", round_portable(safe_div(top_cnt, n), decimals))
        .withColumn(
            "dup_bigram_frac",
            round_portable(
                F.lit(1.0)
                - safe_div(F.size(F.array_distinct("_grams")).cast("double"), ng),
                decimals,
            ),
        )
        .drop("_toks", "_grams")
    )


def quality_score(text: Column, target_tokens: int = 100) -> Column:
    """Composite quality score in [0, 1]:
    0.4·min(tokens/target, 1) + 0.3·unique-token ratio + 0.3·stopword ratio.

    Length, repetition and naturalness signals — the standard cheap
    pre-filter trio for LLM corpus cleaning.
    """
    length_part = F.least(
        token_count(text).cast("double") / F.lit(float(target_tokens)), F.lit(1.0)
    )
    return (
        F.lit(0.4) * length_part
        + F.lit(0.3) * F.coalesce(unique_token_ratio(text), F.lit(0.0))
        + F.lit(0.3) * F.coalesce(stopword_ratio(text), F.lit(0.0))
    )


#: RE2-safe GPT-2-style pretokenizer (no lookahead, ASCII classes, so
#: Spark's Java regex and DuckDB's RE2 agree): contraction suffixes,
#: space-prefixed letter runs, digit runs, punctuation runs, whitespace.
BPE_PRETOKEN_PATTERN = (
    r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"
)

URL_PATTERN = r"https?://[^\s]+"
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def bpe_token_count(text: Column) -> Column:
    """Pretokenizer-level token count (the BPE-ish estimate of the
    brief): counts GPT-2-style pretoken matches. A real BPE merge pass
    only splits these further, so this bounds subword count from below
    at ~linear cost — the standard cheap budget signal for corpus
    sizing."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PRETOKEN_PATTERN), 0))


def scrub_text(text: Column) -> Column:
    """URL/email scrubbing: replace matches with placeholder tags (the
    minimal PII/noise pass every corpus pipeline runs before training).
    Spark's regexp_replace replaces all matches (DuckDB needs the 'g'
    flag for the same)."""
    return F.regexp_replace(
        F.regexp_replace(text, URL_PATTERN, "<URL>"),
        EMAIL_PATTERN,
        "<EMAIL>",
    )


#: RE2-safe PII patterns (no lookaround/backrefs, so Spark's Java regex
#: and DuckDB's RE2 agree match-for-match) — the C4/CCNet scrub set
#: beyond URL/email. ``\b`` sits between word and non-word chars in
#: both engines, and digits ARE word chars, so digit runs embedded in
#: identifiers ("abc123456789x") never match the ID rule.
#: IPv6-specific shapes only (round-10 advisor: a bare "≥3 hex-ish
#: groups" rule scrubbed clock times with seconds ("12:30:45"),
#: scores/ratios, and hex-word runs ("cafe:face:bead")): either a
#: ``::``-compressed form with a non-empty tail ("fe80::1",
#: "fe80:1:2:3::5"), or ≥4 plain colon-separated hex groups. The
#: compressed alternation comes FIRST (round-11 advisor): both Java
#: regex and RE2 pick alternatives leftmost-first, so with the plain
#: branch first a mixed full+compressed address ("fe80:1:2:3::5")
#: matched only its plain prefix and left an address-tail residue
#: ("<IP>::5"). A trailing-``::`` address ("2001:db8::") is NOT
#: matched — ``\b`` cannot assert after ``:`` — an accepted gap
#: pinned in tests/test_text_similarity_ops.py PII_CASES.
IPV6_PATTERN = (
    r"\b([0-9A-Fa-f]{1,4}:){1,6}:[0-9A-Fa-f]{1,4}(:[0-9A-Fa-f]{1,4}){0,5}\b"
    r"|\b[0-9A-Fa-f]{1,4}(:[0-9A-Fa-f]{1,4}){3,7}\b"
)
IPV4_PATTERN = r"\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b"
#: NANP-style with separators (555-123-4567, (555) 123-4567, optional
#: +CC). Dates can't match: the exchange group needs 3 digits between
#: separators. Unseparated 10-digit runs fall through to the ID rule.
PHONE_PATTERN = (
    r"(\+[0-9]{1,2}[ .-])?(\([0-9]{3}\)[ .-]?|\b[0-9]{3}[ .-])"
    r"[0-9]{3}[ .-][0-9]{4}\b"
)
#: SSN-shaped triples and standalone digit runs of ≥9 (account/credit
#: card/SSN-sized) — the "ID-like digit run" rule
ID_PATTERN = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b|\b[0-9]{9,}\b"


def scrub_text_pii(text: Column) -> Column:
    """Full PII scrub — URL/email (:func:`scrub_text`) plus phone
    numbers, IPv4/IPv6 addresses, and ID-like digit runs, each to a
    typed placeholder tag. Order matters and is part of the contract:
    URLs first (so an IP inside a URL is already swallowed by
    ``<URL>``), then email, IPv6 before IPv4 (an IPv4-mapped IPv6
    would otherwise split), phone before the ID rule (a separated
    phone is more specific than a digit run). Pure Catalyst
    ``regexp_replace`` chain — six scan-local passes, no shuffle, no
    UDF; the SQL twin is the same chain with the ``'g'`` flag."""
    out = scrub_text(text)
    out = F.regexp_replace(out, IPV6_PATTERN, "<IP>")
    out = F.regexp_replace(out, IPV4_PATTERN, "<IP>")
    out = F.regexp_replace(out, PHONE_PATTERN, "<PHONE>")
    out = F.regexp_replace(out, ID_PATTERN, "<ID>")
    return out


def normalize_for_fingerprint(text: Column) -> Column:
    """Canonicalize: lowercase, strip non-alphanumerics."""
    return F.regexp_replace(F.lower(text), r"[^a-z0-9]", "")


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the normalized text. Exact-dup key."""
    return F.md5(normalize_for_fingerprint(text))


def tfidf_terms(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Corpus-level TF-IDF vocabulary table:
    ``(term, tf_total, df_docs, idf, tfidf)`` with
    ``idf = ln(n_docs / df_docs)`` (Sparck Jones' inverse document
    frequency) and ``tfidf = tf_total * idf``.

    One explode + one groupBy: term counts and document frequencies come
    out of a single aggregation (map-side partial), then the scalar
    corpus size joins in by broadcast — at 100 TB this is one shuffle of
    the (term, doc) pairs, and the output is vocabulary-sized, not
    data-sized. Raw doubles; callers round for cross-engine comparison.
    """
    terms = df.select(
        F.col(id_col).alias("_id"),
        F.explode(token_array(F.col(text_col))).alias("_tok"),
    ).select("_id", F.lower(F.col("_tok")).alias("term"))
    n_docs = df.select(
        F.countDistinct(F.col(id_col)).alias("_n_docs")
    )
    stats = terms.groupBy("term").agg(
        F.count("*").alias("tf_total"),
        F.countDistinct("_id").alias("df_docs"),
    )
    idf = F.log(F.col("_n_docs").cast("double") / F.col("df_docs"))
    return stats.crossJoin(F.broadcast(n_docs)).select(
        "term",
        "tf_total",
        "df_docs",
        idf.alias("idf"),
        (F.col("tf_total") * idf).alias("tfidf"),
    )


def apply_bpe_merge(symbols: Column, left: str, right: str) -> Column:
    """Apply ONE BPE merge ``(left, right) → left+right`` to a symbol
    array, greedily left-to-right (the standard BPE apply order), as a
    pure Catalyst fold — no UDF, so a merge pass stays inside the scan.

    The fold walks the array once building the output: append the
    merged symbol when the previous output element is *left* and the
    current input is *right* (and the previous element isn't itself the
    result of a merge consuming *left* — handled naturally because the
    merged token ``left+right`` differs from ``left``)."""
    la, ra = F.lit(left), F.lit(right)
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == la)
            & (x == ra),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(la, ra)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def learn_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    lowercase: bool = True,
) -> list[tuple[int, str, str, int]]:
    """Learn *n_merges* BPE merges from a corpus (Sennrich et al.,
    ACL'16 §3.2), distributed the way a production tokenizer trainer
    is: the corpus collapses ONCE into a word-frequency relation
    (vocabulary-sized — orders of magnitude smaller than the corpus),
    and every iteration runs two vocabulary-local steps:

    1. adjacent-pair counting weighted by word frequency — one
       aggregation over the vocab relation;
    2. the argmax pair (count DESC, pair ASC — deterministic) comes
       back to the driver (ONE row — the only driver data per round),
       and :func:`apply_bpe_merge` rewrites the symbol arrays in place.

    The vocab relation is re-materialized each round
    (:func:`~.cache.materialize`) so lineage stays O(1) deep (the same
    discipline as the connected-components loop in operators/graph.py). Returns
    ``[(rank, left, right, pair_count), ...]``.

    At 100 TB: the corpus pass is one shuffle to build word counts;
    every subsequent round touches only |vocab| rows — this is why BPE
    trainers scale, and the relational phrasing preserves exactly that
    property.
    """
    toks = F.explode(token_array(F.col(text_col))).alias("word")
    words = df.select(toks)
    if lowercase:
        words = words.select(F.lower(F.col("word")).alias("word"))
    vocab = (
        words.groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.split(F.col("word"), "").alias("syms"), "n")
    )
    vocab = materialize(vocab)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        pairs = (
            vocab.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.element_at(F.col("syms"), i).alias("l"),
                            F.element_at(F.col("syms"), i + 1).alias("r"),
                        ),
                    )
                ).alias("p"),
                "n",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("n").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not pairs:
            break
        top = pairs[0]
        merges.append((rank, top["l"], top["r"], top["cnt"]))
        vocab = materialize(
            vocab.select(
                apply_bpe_merge(F.col("syms"), top["l"], top["r"]).alias("syms"),
                "n",
            )
        )
    return merges


def bpe_encode_vocab(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Encode the corpus VOCABULARY with a learned merge list: distinct
    words → character symbols → each merge applied in rank order as a
    Catalyst fold (:func:`apply_bpe_merge`). Returns
    ``(word, char_len, tok_len)``.

    This is the production shape of tokenizer application: the merge
    walk runs once per DISTINCT word (vocabulary-sized work), and the
    corpus-sized token stream only joins the resulting lookup table —
    exactly how fast tokenizers cache word → pieces. The fold chain is
    ``n_merges`` nested HOF expressions; plan depth is constant in the
    corpus and linear in the merge count.
    """
    words = df.select(F.explode(token_array(F.col(text_col))).alias("word"))
    if lowercase:
        words = words.select(F.lower(F.col("word")).alias("word"))
    vocab = words.distinct().withColumn("syms", F.split(F.col("word"), ""))
    for _, left, right, _ in merges:
        vocab = vocab.withColumn(
            "syms", apply_bpe_merge(F.col("syms"), left, right)
        )
    return vocab.select(
        "word",
        F.length("word").cast("long").alias("char_len"),
        F.size("syms").cast("long").alias("tok_len"),
    )


def hashed_gram_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    salt: str = "qc",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Hashing-trick featurizer (Weinberger et al., ICML'09; the
    fastText input layer): lowercased word unigrams ∪ bigrams, each
    hashed to one of *n_buckets* feature ids via the engine-portable
    :func:`~.functions.core.md5_long`. Returns one row per gram
    occurrence: ``(id_col, *keep_cols, bucket)``.

    Bigrams are built by zipping the token array against its own
    1-shifted slice — no ``sequence()`` positional indexing, so empty
    and single-token documents yield exactly their unigrams (no
    0-index edge). Pure scan-local Catalyst; the caller's aggregation
    is the only shuffle.
    """
    extra = [F.col(c) for c in (keep_cols or [])]
    t = df.select(
        F.col(id_col),
        *extra,
        F.transform(token_array(F.col(text_col)), F.lower).alias("toks"),
    )
    n1 = F.greatest(F.size("toks") - 1, F.lit(0))
    grams = t.select(
        F.col(id_col),
        *extra,
        F.explode(
            F.concat(
                F.col("toks"),
                F.zip_with(
                    F.slice(F.col("toks"), 1, n1),
                    F.slice(F.col("toks"), 2, n1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
            )
        ).alias("gram"),
    )
    from air_quality_etl_pipeline_spark.functions.core import md5_long

    return grams.select(
        F.col(id_col),
        *extra,
        (md5_long(F.col("gram"), salt=salt) % F.lit(n_buckets))
        .cast("long")
        .alias("bucket"),
    )


def quality_classifier_weights(
    labeled: DataFrame,
    text_col: str = "text",
    label_col: str = "y",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    salt: str = "qc",
) -> DataFrame:
    """Train a linear text-quality classifier (the CCNet/fastText
    curation stage) on a labeled split: multinomial Naive Bayes
    log-odds over hashed n-gram features — a TRAINED linear model
    whose fit reduces to exact count aggregates, so training is
    deterministic and bit-identical cross-engine (unlike SGD logistic
    regression, which needs non-portable transcendental steps; NB is
    its classic closed-form log-linear counterpart).

    *labeled* needs ``label_col`` ∈ {0, 1} with both classes present.
    Returns ``(bucket, w_micro9)``: one row per feature bucket in
    ``[0, n_buckets)`` with the Laplace-smoothed log-odds weight

        w(b) = ln(c1(b)+1) − ln(T1+B) − ln(c0(b)+1) + ln(T0+B)

    in exact 1e-9 integer units (each ln via the bit-portable
    :func:`~.functions.portable_math.ln_int_portable`, quantized
    BEFORE combining so the arithmetic is integer-exact), plus one
    ``bucket = -1`` row carrying the class-prior log-odds
    ``ln(n_docs_1) − ln(n_docs_0)``. Scoring a document is then
    ``prior + Σ_b count_d(b)·w(b)`` — a dot product, i.e. a linear
    classifier.

    Scale: the corpus-sized gram stream collapses to the
    ``n_buckets``-grain count relation in ONE map-side-combined
    aggregation; everything after (totals, lns, the all-buckets
    fill-in) is O(n_buckets) work on a relation that broadcasts.

    The weight table is returned MATERIALIZED
    (:func:`~.cache.materialize`): training runs its jobs at the call,
    once, and every consumer — the scorer's broadcast and its prior
    cross join, a stream's micro-batches — reads the ≤ n_buckets + 1
    materialized rows. Lazily, each differently-filtered consumer
    re-ran the corpus-sized gram aggregation (cache-cleared at sf0.1:
    quality_classifier_score 1.8 → 3.3 s cold; SCALE.md, "Builders
    leave nothing in the session cache"). No CacheManager entry is
    created, so a retraining loop leaves no session state behind.
    """
    from air_quality_etl_pipeline_spark.functions.portable_math import (
        ln_int_portable,
        quantize_micro9,
    )

    spark = labeled.sparkSession
    y = F.col(label_col).cast("int")
    g = hashed_gram_buckets(
        labeled, text_col, id_col, n_buckets, salt, keep_cols=[label_col]
    )
    cnt = g.groupBy("bucket").agg(
        F.sum(F.when(y == 1, 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(y == 0, 1).otherwise(0)).cast("long").alias("c0"),
    )
    # every bucket gets a row (unseen buckets still carry the
    # smoothing-only weight — exactly what an absent feature scores)
    allb = (
        spark.range(n_buckets)
        .withColumnRenamed("id", "bucket")
        .join(cnt, on="bucket", how="left")
        .fillna(0, subset=["c1", "c0"])
    )
    tot = F.broadcast(
        allb.agg(
            (F.sum("c1") + F.lit(n_buckets)).alias("t1b"),
            (F.sum("c0") + F.lit(n_buckets)).alias("t0b"),
        )
    )
    qln = lambda c: quantize_micro9(ln_int_portable(c))  # noqa: E731
    w = allb.crossJoin(tot).select(
        "bucket",
        (
            qln(F.col("c1") + 1)
            - qln(F.col("t1b"))
            - qln(F.col("c0") + 1)
            + qln(F.col("t0b"))
        ).alias("w_micro9"),
    )
    prior = (
        labeled.agg(
            F.sum(F.when(y == 1, 1).otherwise(0)).cast("long").alias("n1"),
            F.sum(F.when(y == 0, 1).otherwise(0)).cast("long").alias("n0"),
        )
        .select(
            F.lit(-1).cast("long").alias("bucket"),
            (qln(F.col("n1")) - qln(F.col("n0"))).alias("w_micro9"),
        )
    )
    return materialize(w.unionByName(prior))


def quality_classifier_score(
    docs: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    salt: str = "qc",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Score documents with a trained :func:`quality_classifier_weights`
    model: ``score = prior + Σ_b count_d(b)·w(b)`` in exact 1e-9
    integer units. Returns ``(id_col, *keep_cols, n_grams,
    score_micro9, pred)`` with ``pred = 1`` iff the score is positive
    (class-1-like). *keep_cols* are carried through the aggregation
    (grouped alongside ``id_col`` — they must be functionally
    dependent on it), so a pipeline can score and keep its payload
    columns in ONE corpus pass instead of scoring then self-joining —
    a join-back's two sides differ in their pruned columns, so AQE
    cannot reuse the shared subtree and would re-execute the whole
    upstream plan.

    Scale: the gram stream aggregates to ``(doc, bucket)`` grain in
    one doc-keyed exchange; the ≤ ``n_buckets + 1``-row weight
    relation broadcasts onto it, and the prior rides the same
    broadcast as a 1-row cross join — the corpus is scanned once and
    the only shuffle is the per-doc aggregation.
    """
    keep = list(keep_cols or [])
    gb = (
        hashed_gram_buckets(
            docs, text_col, id_col, n_buckets, salt, keep_cols=keep
        )
        .groupBy(id_col, *keep, "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = F.broadcast(weights.filter(F.col("bucket") >= 0))
    prior = F.broadcast(
        weights.filter(F.col("bucket") == -1).select(
            F.col("w_micro9").alias("_prior")
        )
    )
    scored = (
        gb.join(w, on="bucket")
        .groupBy(id_col, *keep)
        .agg(
            F.sum("cnt").cast("long").alias("n_grams"),
            F.sum(F.col("cnt") * F.col("w_micro9"))
            .cast("long")
            .alias("_dot"),
        )
        .crossJoin(prior)
    )
    return scored.select(
        id_col,
        *keep,
        "n_grams",
        (F.col("_dot") + F.col("_prior")).cast("long").alias("score_micro9"),
        ((F.col("_dot") + F.col("_prior")) > 0)
        .cast("long")
        .alias("pred"),
    )


def crossencoder_rerank_stub(
    candidates: DataFrame,
    id_col: str = "doc_id",
    topk: int = 5,
) -> DataFrame:
    """Cross-encoder reranking STAGE with the model stubbed: the
    candidate relation (a first-stage retriever's top-k) flows through
    an Arrow-batched ``mapInPandas`` scorer — the exact plumbing a real
    cross-encoder inference pass uses (bounded batch, typed schema,
    self-contained closure) — but the score is a clearly-marked
    deterministic fake (md5 of the doc id), since no model runtime is
    in this container. Swap the body for tokenizer+model inference and
    nothing else changes. Returns ``(doc_id, ce_score, ce_rank)``,
    top-*topk* by (score desc, id asc). The candidate set is
    constant-sized, so the Python boundary sees k rows per query, not
    the corpus."""

    def score(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["doc_id"]
            scores = [
                int(hashlib.md5(f"rr:{i}".encode()).hexdigest()[:15], 16)
                for i in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "ce_score": scores})

    scored = candidates.select(F.col(id_col).alias("doc_id")).mapInPandas(
        score, "doc_id long, ce_score long"
    )
    w = Window.orderBy(F.desc("ce_score"), F.asc("doc_id"))
    return (
        scored.withColumn("ce_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("ce_rank") <= topk)
        .select("doc_id", "ce_score", "ce_rank")
    )
