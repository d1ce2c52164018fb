"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Training-data-pipeline extensions (north star in BASELINE.json),
following the published constructions: MinHash resemblance sketches
(Broder, "On the resemblance and containment of documents", SEQUENCES
1997) with banded LSH (Leskovec/Rajaraman/Ullman, *Mining of Massive
Datasets* ch. 3), SimHash random-projection fingerprints (Charikar,
"Similarity estimation techniques from rounding algorithms", STOC
2002) with the bit-band candidate trick from Manku/Jain/Sarma,
"Detecting near-duplicates for web crawling" (WWW 2007). Word-shingle
blocking mirrors the dedup recipes of large-corpus pipelines
(Gopher/RefinedWeb). The design goal at 100 TB is to never materialize
the O(n²) pair space:

* exact       — hash-groupBy on a content fingerprint (one shuffle).
* n-gram Jaccard — pairs only *within a blocking key* (e.g. language ×
  source), so the quadratic term is bounded per block.
* MinHash-LSH — signatures per row (linear scan), banded bucket join so
  only same-bucket rows pair up; verify candidates with true Jaccard.
* SimHash     — relational formulation (explode tokens → per-bit votes →
  bit-pack), Hamming distance via xor+bit_count on candidate pairs.

Hashes are salted md5 (:func:`~air_quality_etl_pipeline_spark.functions
.core.md5_long`) — engine-portable and deterministic, which the oracle
harness requires; swap for ``xxhash64`` when portability doesn't matter
and you want cheaper hashing.
"""

from __future__ import annotations

from collections.abc import Sequence
from fractions import Fraction

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.functions.core import (
    char_shingles,
    MINHASH_P31,
    affine_coeffs,
    hash_of,
    md5_hex15,
    md5_long,
    safe_div,
    token_array,
    word_shingles_of_tokens,
)
from air_quality_etl_pipeline_spark.operators.cache import materialize
from air_quality_etl_pipeline_spark.operators.text import fingerprint


def _threshold_ratio(threshold: float) -> tuple[int, int]:
    """Normalize a similarity threshold to an exact integer ratio
    ``(num, den)`` with ``num/den == intended decimal`` so that
    threshold tests can run in integer arithmetic instead of float.

    ``Fraction(t)`` alone would take the exact binary expansion of the
    double (huge denominator, faithfully wrong: double ``0.2`` is
    slightly above 1/5); ``limit_denominator(10**6)`` snaps back to the
    nearest small rational, which for any threshold written with ≤6
    decimal places is exactly the number the caller typed.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    frac = Fraction(threshold).limit_denominator(1_000_000)
    return frac.numerator, frac.denominator


def exact_dup_groups(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Exact dedup: group by content fingerprint; returns one row per
    distinct content with the survivor (min id) and the duplicate count.
    """
    return (
        df.withColumn("fingerprint", fingerprint(F.col(text_col)))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_docs"),
        )
    )


def collapse_exact_clones(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """``(members, representatives)`` for the exact→near dedup cascade.

    Production near-dup pipelines run exact dedup FIRST (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better" §4 runs
    NearDup over exact-deduplicated corpora): every near-dup stage —
    shingling, signatures, banding, candidate verification — depends
    only on the text, so exact clones are pure replicated work, and a
    clone *group* of size g turns one unit of verify work into g²/2.
    The sf1 scale stress pinned the cost on this repo's corpus shape:
    replicating every document 10× verbatim took ``dedup_ngram_jaccard``
    from 0.60 s to 7.13 s (11.9× for 10× data) because each stage ran
    per clone.  Collapsing to one representative per distinct content
    makes the expensive stages distinct-text-sized; only the final
    (output-sized, irreducible) pair expansion sees clone counts.

    The group key is md5 of the RAW text — NOT the normalized
    ``fingerprint()`` used by ``exact_dup_groups``.  The cascade's
    result-identity argument (clones share shingle sets, so candidacy
    transfers member-to-member and intra-group jaccard is exactly 1.0)
    requires byte-identical texts: two docs that differ only in case or
    punctuation normalize to the same fingerprint but shingle
    differently, so a normalized key would hand them hardcoded 1.0
    intra-group scores and the representative's cross-group scores
    where the true per-text jaccard differs.

    ``members``: ``(_fp, id_col, _rep)`` — one row per input doc with
    its raw-content fingerprint and its group's representative (min id).
    ``representatives``: ``(id_col, text_col)`` — one row per distinct
    content, the min-id member's.  ONE pass: the representative's id
    and text ride the fingerprint groupBy as a ``min(struct(id,
    text))`` partial aggregate (struct comparison is field-order
    lexicographic and ids are unique, so this is exactly min-by-id;
    map-side partial min keeps ≤ one struct per fingerprint per
    partition, so the shuffle stays distinct-sized) — no second scan,
    no semi-join back to the input.  The members join is on the
    groupBy's own key, so it reuses the fingerprint partitioning.
    """
    fpf = df.select(
        F.col(id_col),
        F.col(text_col),
        F.md5(F.col(text_col)).alias("_fp"),
    )
    groups = fpf.groupBy("_fp").agg(
        F.min(F.struct(F.col(id_col), F.col(text_col))).alias("_r")
    )
    members = fpf.select(id_col, "_fp").join(
        groups.select(
            "_fp", F.col("_r")[id_col].alias("_rep")
        ),
        on="_fp",
    )
    reps = groups.select(
        F.col("_r")[id_col].alias(id_col),
        F.col("_r")[text_col].alias(text_col),
    )
    return members, reps


def jaccard_of_arrays(a: Column, b: Column) -> Column:
    """|a ∩ b| / |a ∪ b| over distinct-element arrays.

    The union SIZE is arithmetic — ``|a| + |b| − |a ∩ b|`` — so only
    the intersection is materialized; ``array_union`` would build and
    hash a whole merged array per pair for a number we can add."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(a).cast("double") + F.size(b).cast("double") - inter
    return safe_div(inter, union)


def _shingled(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    block_cols: Sequence[str],
    shingler: str = "char",
) -> DataFrame:
    """``(_id, *blocks, _sh)`` — per-doc distinct n-gram arrays (char
    or word shingles), materialized (:func:`~.cache.materialize`): the
    prefix-filter candidate pass and both verification join-backs read
    it with different projections, which AQE cannot reuse across
    (cache-cleared at sf0.1, lazy lsh_recall_eval was 7.4 → 8.4 s
    cold)."""
    blocks = [F.col(c) for c in block_cols]
    if shingler == "word":
        sh = word_shingles_of_tokens(token_array(F.col(text_col)), n)
    elif shingler == "char":
        sh = char_shingles(F.col(text_col), n)
    else:
        raise ValueError(f"unknown shingler: {shingler!r}")
    return materialize(
        df.select(F.col(id_col).alias("_id"), *blocks, sh.alias("_sh"))
    )


def ppjoin_candidates(
    sh: DataFrame,
    threshold: float,
    block_cols: Sequence[str] = (),
    positional: bool = True,
) -> DataFrame:
    """Candidate pairs ``(id_a, id_b)`` via PPJoin prefix filtering over
    a :func:`_shingled` frame; ``positional=True`` adds PPJoin's
    positional upper bound (Xiao et al. §3.2): at the EARLIEST common
    prefix token — 0-based positions ``(min pa, min pb)`` in the
    frequency-ordered arrays — the overlap is bounded by
    ``min(|A|−pa, |B|−pb)``, and the pair is pruned when that cannot
    reach the required overlap ``α = ⌈t/(1+t)·(|A|+|B|)⌉``.

    The bound is valid ONLY at the earliest match: both arrays restrict
    the same global token order, so no common token can precede the
    earliest matched one in either array — whereas a later matched
    token can have common tokens before it on both sides, which its
    ``min(remaining)`` doesn't count. Taking the minimum bound over ALL
    matches therefore over-prunes true pairs (caught by the Hypothesis
    recall property on ``['aaa ', 'aaa a']`` at t=0.3). Same shuffle
    count as the plain prefix filter (the pair groupBy replaces the
    dropDuplicates), strictly fewer verified pairs.

    ARITHMETIC IS EXACT-RATIONAL, NOT FLOAT. ``⌈t·x⌉`` computed with
    double ``ceil`` over-counts when ``t·x`` is an exact integer but
    the float product lands just above it (e.g. ``t=0.2, x=12`` →
    ``ceil(2.0000000000000004)=3``), which would both shorten the
    prefix below the guaranteed-recall minimum and prune true pairs
    whose positional bound is tight. The threshold is therefore
    normalized to a fraction ``num/den``
    (``Fraction(t).limit_denominator(10**6)`` recovers the intended
    decimal, e.g. double ``0.2`` → ``1/5``) and both tests become
    integer arithmetic: prefix length uses ``⌈num·x / den⌉`` as an
    integer ceil-div, and the positional prune uses the division-free
    equivalence ``ub/(|A|+|B|−ub) ≥ t  ⇔  ub·(num+den) ≥
    num·(|A|+|B|)`` — the same form as the verification Jaccard test.
    """
    t_num, t_den = _threshold_ratio(threshold)
    toks = sh.select("_id", *block_cols, F.explode("_sh").alias("_t"))
    freq = toks.groupBy("_t").agg(F.count("*").alias("_f"))
    # per-doc shingles sorted by (global freq, token): struct sort_array
    ordered = (
        toks.join(freq, on="_t")
        .groupBy("_id", *block_cols)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("_f"), F.col("_t")))
            ).alias("_o")
        )
    )
    # |s| − ⌈t·|s|⌉ + 1 with the ceil as an exact integer ceil-div
    p_len = F.expr(
        f"size(_o) - CAST(({t_num}L * size(_o) + {t_den - 1}L)"
        f" DIV {t_den}L AS INT) + 1"
    )
    prefixes = ordered.select(
        "_id",
        *block_cols,
        F.size("_o").alias("_sz"),
        F.posexplode(
            F.transform(
                F.slice(F.col("_o"), F.lit(1), p_len), lambda x: x["_t"]
            )
        ).alias("_pos", "_pt"),
    )
    left = prefixes.select(
        *block_cols,
        "_pt",
        F.col("_id").alias("id_a"),
        F.col("_sz").alias("_sza"),
        F.col("_pos").alias("_pa"),
    )
    right = prefixes.select(
        *block_cols,
        "_pt",
        F.col("_id").alias("id_b"),
        F.col("_sz").alias("_szb"),
        F.col("_pos").alias("_pb"),
    )
    matched = left.join(right, on=[*block_cols, "_pt"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    if not positional:
        return matched.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
    pairs = matched.groupBy("id_a", "id_b", "_sza", "_szb").agg(
        F.min("_pa").alias("_pa0"), F.min("_pb").alias("_pb0")
    )
    ub = F.least(
        F.col("_sza") - F.col("_pa0"), F.col("_szb") - F.col("_pb0")
    )
    # reachable ⇔ ub/(|A|+|B|−ub) ≥ t ⇔ ub·(num+den) ≥ num·(|A|+|B|):
    # integer-exact, no float ceil of α = ⌈t/(1+t)·(|A|+|B|)⌉ needed
    reachable = ub * F.lit(t_num + t_den) >= F.lit(t_num) * (
        F.col("_sza") + F.col("_szb")
    )
    return pairs.filter(reachable).select("id_a", "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    block_cols: Sequence[str] = (),
    positional: bool = True,
    shingler: str = "char",
) -> DataFrame:
    """Near-dup pairs by character-n-gram Jaccard ≥ *threshold*, with
    PPJoin PREFIX FILTERING (Xiao et al., "Efficient Similarity Joins
    for Near Duplicate Detection", WWW 2008) for candidate generation.

    Each document's shingle set is ordered by ASCENDING global
    frequency (ties lexicographic) and only the first
    ``|s| − ⌈t·|s|⌉ + 1`` shingles — its *prefix*, the rarest ones —
    are exploded into the candidate index. Two sets with Jaccard ≥ t
    MUST share a prefix token (if all shared tokens sat in A's suffix,
    the overlap would be < ⌈t·|A|⌉, contradicting J ≥ t), so joining
    on (block, prefix_token) has perfect recall while the pair space
    collapses from block-quadratic to collisions-on-rare-tokens.
    Measured at sf0.1 (5 k docs, ~1 k-doc language blocks): the block
    self-join formulation evaluated ~2.5 M intersect/unions in ~360 s;
    the prefix filter verifies only true candidates in ~3 s.
    ``positional=True`` (default) further applies PPJoin's positional
    upper bound inside candidate generation — see
    :func:`ppjoin_candidates`; recall stays exact (the bound only
    discards pairs that provably cannot reach *threshold*).

    PREFIX FILTERING NEEDS A HEAVY-TAILED SHINGLE SPACE: prefixes index
    each doc under its RAREST tokens, so collisions stay sparse only
    when most shingles are rare. A tiny shingle vocabulary (e.g. char
    3-grams over a small alphabet — measured: 100 k docs / ~5 k distinct
    grams blew past memory in candidate generation) makes every bucket
    huge and the join quadratic. On such corpora use
    ``shingler="word"`` (n-gram space is vocab^n — heavy-tailed; the
    same 100 k docs finish in seconds) or switch to MinHash-LSH, whose
    candidate volume is capped by the banding scheme rather than the
    token distribution.

    Verification joins candidate ids back to the shingle arrays: the
    size prefilter ``min ≥ t·max`` first, then exact Jaccard computed
    as ``∩ / (|A| + |B| − ∩)`` — arrays are distinct, so the union
    size is arithmetic and the expensive ``array_union``
    materialization disappears.
    """
    sh = _shingled(df, id_col, text_col, n, block_cols, shingler)
    cands = ppjoin_candidates(
        sh, threshold, block_cols, positional=positional
    )
    verified = (
        cands.join(
            sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")),
            on="id_a",
        )
        .join(
            sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")),
            on="id_b",
        )
    )
    sa, sb = F.size(F.col("sh_a")), F.size(F.col("sh_b"))
    verified = verified.filter(
        F.least(sa, sb) >= F.lit(threshold) * F.greatest(sa, sb)
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast(
        "double"
    )
    jac = safe_div(inter, (sa + sb).cast("double") - inter)
    return (
        verified.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_dist: int = 10,
    block_cols: Sequence[str] = (),
    band_width: int | None = None,
) -> DataFrame:
    """Fuzzy near-dup pairs by bounded Levenshtein edit distance.

    Returns ``(id_a, id_b, edit_dist)`` for pairs with
    ``levenshtein ≤ max_dist`` within the same *block_cols* group.
    Candidate generation is blocking + LENGTH BANDING, never all-pairs:

    * ``|len(a) − len(b)| > max_dist ⇒ dist > max_dist`` (each unmatched
      character costs ≥1 edit), so rows bucket by
      ``floor(len / band_width)`` with ``band_width = max_dist + 1``;
      a qualifying pair's buckets differ by at most 1, so the right side
      is exploded into ``{bucket, bucket+1}`` and an equi-join on
      (block, bucket) has perfect recall.
    * The distance itself uses Spark's BOUNDED ``levenshtein(l, r, k)``
      — O(len·k) banded DP instead of O(len²), returning −1 past the
      bound so non-matches exit early. (The oracle's unbounded
      ``levenshtein() <= k`` filter keeps identical results.)

    At 100 TB: one scan to band, one hash shuffle on (block, bucket),
    and the quadratic term is confined to same-bucket rows — the same
    shape as the MinHash/SimHash candidate joins.
    """
    w = band_width or (max_dist + 1)
    base = df.select(
        F.col(id_col).alias("_id"),
        *[F.col(c) for c in block_cols],
        F.col(text_col).alias("_txt"),
        F.floor(F.length(text_col) / F.lit(w)).alias("_bkt"),
    )
    left = base.select(
        *block_cols,
        F.col("_bkt").alias("_join_bkt"),
        F.col("_id").alias("ida"),
        F.col("_txt").alias("ta"),
    )
    right = base.select(
        *block_cols,
        F.explode(F.array(F.col("_bkt"), F.col("_bkt") + 1)).alias("_join_bkt"),
        F.col("_id").alias("idb"),
        F.col("_txt").alias("tb"),
    )
    cands = (
        left.join(right, on=[*block_cols, "_join_bkt"])
        .filter(F.col("ida") != F.col("idb"))
        # length prefilter: cheap necessary condition before the DP
        .filter(
            F.abs(F.length("ta") - F.length("tb")) <= F.lit(max_dist)
        )
        .withColumn("edit_dist", F.levenshtein("ta", "tb", max_dist))
        .filter(F.col("edit_dist") >= 0)
        .select(
            F.least("ida", "idb").alias("id_a"),
            F.greatest("ida", "idb").alias("id_b"),
            "edit_dist",
        )
        # same-bucket pairs meet at both bucket entries; canonicalize + dedup
        .dropDuplicates(["id_a", "id_b"])
    )
    return cands


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 8,
    hash_family: str = "md5",
    shingler: str = "word",
) -> DataFrame:
    """Per-row MinHash signatures → ``(_id, _sh, _h0.._h{k-1})``.

    LAMBDA-FREE formulation: shingles explode to rows and each hash
    function is a plain ``min(salted_hash(shingle))`` aggregate — one
    shuffle on id with map-side partial mins. This is deliberate: a
    projection of N sibling ``array_min(transform(...))`` lambda
    expressions over a computed array column silently produced WRONG,
    run-to-run-unstable hash minima (nested-lambda variable resolution
    after projection collapse); row-expression aggregates have no
    lambda binding to corrupt. The aggregate form is also the shape
    that scales — partial mins combine before the exchange.

    ``hash_family="md5"`` (default, oracle-portable) keeps fixed-width
    hex strings (lexicographic min ≡ numeric min — see md5_hex15);
    ``"md5_affine"`` (oracle-portable, ~8× less hashing at k=8) takes
    ONE md5 per shingle and derives the k functions as Carter-Wegman
    affine rehashes of its low 30 bits (functions.core.affine_coeffs);
    ``"xxhash64"`` is the ~5-10× cheaper JVM-native production path
    (not replayable outside Spark). ``shingler="word"`` (default)
    shingles word *n*-grams; ``"char"`` shingles character *n*-grams
    (the right unit when docs share a tiny vocabulary and word-level
    sets are near-identical everywhere).
    """
    if shingler == "char":
        sh = df.select(
            F.col(id_col).alias("_id"),
            char_shingles(F.col(text_col), n).alias("_sh"),
        )
    else:
        sh = (
            df.select(
                F.col(id_col).alias("_id"),
                token_array(F.col(text_col)).alias("_toks"),
            )
            .select(
                "_id", word_shingles_of_tokens(F.col("_toks"), n).alias("_sh")
            )
        )
    exploded = sh.select("_id", F.explode("_sh").alias("_s"))
    if hash_family == "md5_affine":
        # one md5 per shingle, k Carter-Wegman rehashes of its low 30
        # bits — see functions.core.affine_coeffs
        exploded = exploded.withColumn(
            "_b30", md5_long(F.col("_s")) % F.lit(1 << 30)
        )

    def one(i: int) -> Column:
        if hash_family == "md5_affine":
            a, c = affine_coeffs(i)
            return (F.lit(a) * F.col("_b30") + F.lit(c)) % F.lit(MINHASH_P31)
        if hash_family == "md5":
            return md5_hex15(F.col("_s"), salt=str(i))
        return hash_of(F.col("_s"), salt=str(i), family=hash_family)

    sig = exploded.groupBy("_id").agg(
        *[F.min(one(i)).alias(f"_h{i}") for i in range(num_hashes)]
    )
    return sh.join(sig, on="_id")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.7,
    hash_family: str = "md5",
    shingler: str = "word",
) -> DataFrame:
    """MinHash + banded LSH near-dup detection over word-*n*-gram
    shingles.

    shingle set → signature → split into *bands* of ``num_hashes/bands``
    rows → band hash → candidates = id pairs sharing ANY
    (band_idx, band_hash) bucket → verified with true Jaccard ≥
    *threshold* by joining the candidate ids back to the precomputed
    shingle sets (never recomputing shingles per pair, and never carrying
    text/arrays through the band explode — the exploded relation is
    just ``(id, band_idx, band_hash)``).

    At 100 TB: the signature pass is one linear scan; the bucket join
    shuffles the slim banded relation on (band_idx, band_hash) so only
    colliding rows meet; the verify joins shuffle candidate id pairs
    (small) against the shingle table on id.
    """
    sh, cands = minhash_lsh_candidates(
        df, id_col, text_col, n, num_hashes, bands, hash_family, shingler
    )
    verified = (
        cands.join(sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), on="id_a")
        .join(sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), on="id_b")
        .withColumn("jaccard", jaccard_of_arrays(F.col("sh_a"), F.col("sh_b")))
    )
    return (
        verified.filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def banded_relation(
    sh: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """The slim LSH band relation ``(_id, band_idx, band_hash)`` of a
    signature table from :func:`minhash_signatures`: signatures split
    into *bands* rows of ``num_hashes/bands`` hashes each, band hash =
    md5 of the comma-joined row. Text and shingle arrays never ride
    this relation — it is the ONLY thing the bucket join shuffles."""
    rows_per_band = num_hashes // bands
    return sh.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"_h{b * rows_per_band + r}")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("_id", "band.band_idx", "band.band_hash")


def minhash_lsh_pairs_between(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.7,
    hash_family: str = "md5",
    shingler: str = "word",
) -> DataFrame:
    """INCREMENTAL MinHash-LSH dedup: near-dup pairs BETWEEN two
    relations — ``(new_id, corpus_id, jaccard)`` for every *new_df*
    row whose true shingle Jaccard against some *corpus_df* row is ≥
    *threshold* — the continuous-ingestion shape: an incoming batch is
    screened against the existing corpus without ever comparing corpus
    rows to each other (no self-join, no ``id_a < id_b`` dance).

    Same machinery as :func:`minhash_lsh_pairs` (signature pass per
    side, band equi-join, verify join-back to the shingle sets), but
    the band join is new×corpus only. At 100 TB the corpus-side band
    relation is the thing a production pipeline PERSISTS between
    batches (it is ``(id, band, hash)`` — narrow, append-only); here it
    is recomputed because the registry queries must be
    self-contained."""
    sh_new = minhash_signatures(
        new_df, id_col, text_col, n, num_hashes, hash_family, shingler
    )
    sh_old = minhash_signatures(
        corpus_df, id_col, text_col, n, num_hashes, hash_family, shingler
    )
    left = banded_relation(sh_new, num_hashes, bands).select(
        "band_idx", "band_hash", F.col("_id").alias("new_id")
    )
    right = banded_relation(sh_old, num_hashes, bands).select(
        "band_idx", "band_hash", F.col("_id").alias("corpus_id")
    )
    cands = (
        left.join(right, on=["band_idx", "band_hash"])
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    verified = (
        cands.join(
            sh_new.select(
                F.col("_id").alias("new_id"), F.col("_sh").alias("sh_a")
            ),
            on="new_id",
        )
        .join(
            sh_old.select(
                F.col("_id").alias("corpus_id"),
                F.col("_sh").alias("sh_b"),
            ),
            on="corpus_id",
        )
        .withColumn(
            "jaccard", jaccard_of_arrays(F.col("sh_a"), F.col("sh_b"))
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "new_id", "corpus_id", "jaccard"
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    hash_family: str = "md5",
    shingler: str = "word",
) -> tuple[DataFrame, DataFrame]:
    """Candidate generation half of MinHash-LSH: returns
    ``(shingle_relation(_id, _sh, _h*), candidate_pairs(id_a, id_b))``
    so callers can verify with ANY similarity predicate — the verify
    metric and the candidate metric are independent choices (e.g.
    word-5-gram candidates verified by char-3-gram Jaccard when the
    corpus vocabulary makes char-gram LSH collide on everything).
    """
    # ONE persisted pass computes shingles AND signatures (see
    # minhash_signatures for why the signature is aggregate-based); the
    # cached relation feeds the band self-join (both sides) and both
    # verify join-backs — without it the tokenize→shingle→hash scan
    # re-runs four times. The one lazy persist a registered query keeps
    # (its CacheManager entry is fenced in tests/test_oracle_parity.py):
    # deleting it measured perfbench corpus_heavy's warm total +29%
    # (SCALE.md, "Builders leave nothing in the session cache").
    sh = minhash_signatures(
        df, id_col, text_col, n, num_hashes, hash_family, shingler
    ).persist()
    banded = banded_relation(sh, num_hashes, bands)

    # Self-join via RENAMED projections + join-by-name, NOT
    # .alias("a")/.alias("b") with qualified F.col refs: when both sides
    # share one unpersisted plan, Spark's self-join attribute
    # de-duplication can mis-resolve the qualified columns and silently
    # drop candidate pairs (observed: cold runs returned a subset).
    left = banded.select(
        "band_idx", "band_hash", F.col("_id").alias("id_a")
    )
    right = banded.select(
        "band_idx", "band_hash", F.col("_id").alias("id_b")
    )
    cands = (
        left.join(right, on=["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return sh, cands


def simhash_bits(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 32,
    hash_family: str = "md5",
    carry_cols: Sequence[str] = (),
    keep_empty: bool = False,
) -> DataFrame:
    """SimHash in relational form → ``(id, simhash)``.

    explode tokens → ONE groupBy per doc computing all per-bit ones
    counts as *bits* aggregate expressions (``sum((h >> b) & 1)``) →
    set bit b when ones > tokens/2 (the majority vote), packed into a
    LONG in the aggregate's projection.

    One token-count-linear shuffle. The naive formulation (explode a
    bit index per token, groupBy (doc, bit)) shuffles ``bits ×`` more
    rows — at 48 bits that's a 48× heavier exchange for identical
    output.
    """
    # The whole pipeline is built from SQL-expression STRINGS, not
    # chained Column operators: constructing ``bits`` aggregate columns
    # plus a ``bits``-term packed projection through the Python Column
    # API costs ~0.9 s of py4j round-trips PER CALL (measured — more
    # than the query's own execution); ``F.expr`` parses each whole
    # expression JVM-side in one call. (r14 note: collapsing the 4-op
    # chain further into ONE `{df}`-parameterized spark.sql() was built
    # and REVERTED — the temp-view View wrapper it leaves in the plan
    # made every DOWNSTREAM analyzer pass slower, 0.6 s → 1.1 s of
    # construction per component-edges build, and CacheManager refuses
    # to substitute caches under View nodes. Receipts in
    # OPTIMIZATION_r14.md.) Tokens are hashed per occurrence
    # (md5 is ~100 ns JVM-side): hashing only the distinct vocabulary
    # and broadcast-joining back was measured SLOWER end-to-end — it
    # adds a distinct shuffle job plus a broadcast collect, and the
    # vote groupBy's map-side partials collapse the rows anyway.
    carry = list(carry_cols)
    qcarry = [f"`{c}`" for c in carry]
    # keep_empty (the component-edges cascade needs every row to
    # survive): explode_outer carries tokenless docs (NULL/empty text)
    # as one NULL-token row, whose NULL-guarded hash makes every bit
    # sum NULL → simhash NULL — such docs can never band-match, which
    # is exactly simhash_pairs' behavior of dropping them.
    explode_fn = "explode_outer" if keep_empty else "explode"
    toks = df.selectExpr(
        f"`{id_col}` AS _id",
        *qcarry,
        f"{explode_fn}(CASE WHEN trim(`{text_col}`) = '' THEN array() "
        f"ELSE split(trim(`{text_col}`), '\\\\s+') END) AS _tok",
    )
    if hash_family == "md5":
        h_expr = "CAST(conv(substring(md5(_tok), 1, 15), 16, 10) AS LONG)"
    elif hash_family == "xxhash64":
        # xxhash64 maps a NULL arg to the seed, not NULL — guard so
        # tokenless rows stay NULL under keep_empty
        h_expr = "CASE WHEN _tok IS NULL THEN NULL ELSE xxhash64(_tok) END"
    else:
        raise ValueError(f"unknown hash family: {hash_family!r}")
    hashed = toks.selectExpr("_id", *qcarry, f"{h_expr} AS _h")
    aggs = [
        F.expr(f"sum(shiftright(_h, {b}) & 1) AS _b{b}") for b in range(bits)
    ]
    counted = hashed.groupBy("_id", *carry).agg(
        F.expr("count(*) AS _n"), *aggs
    )
    # bit b set iff 2·ones > n: (n − 2·ones) is negative exactly then,
    # so its sign bit (arithmetic >> 63) IS the vote — no CASE chain.
    packed = " + ".join(
        f"((((_n - 2 * _b{b}) >> 63) & 1) << {b})" for b in range(bits)
    )
    return counted.selectExpr(
        f"_id AS `{id_col}`",
        *qcarry,
        f"CAST({packed} AS LONG) AS simhash",
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    block_cols: Sequence[str] = (),
    hash_family: str = "md5",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ *max_hamming*,
    blocked by *block_cols*.

    Candidate generation is Manku-style banded LSH, not all-pairs: the
    fingerprint splits into ``max_hamming + 1`` bit bands, and by
    pigeonhole any pair within *max_hamming* differing bits agrees on
    at least one whole band — so a self-join on (band_idx, band_value)
    has PERFECT recall while meeting only rows that collide on ~12
    exact bits. Within-block all-pairs is quadratic in block size; the
    band join is near-linear until bands saturate.
    """
    # block cols ride through the vote aggregation (functionally
    # dependent on the id) — no second scan of df to re-attach them.
    # Materialized: lazily, both band self-join sides re-ran the vote
    # aggregation above its reused exchange (cache-cleared at sf0.1,
    # build + cold: dedup_simhash 1.47 s lazy vs 1.40 s materialized,
    # dedup_fuzzy_edit 1.85 s vs 1.38 s; SCALE.md, "Builders leave
    # nothing in the session cache")
    sh = materialize(
        simhash_bits(
            df.select(id_col, text_col, *block_cols),
            id_col,
            text_col,
            bits,
            hash_family,
            carry_cols=block_cols,
        )
    )
    return _banded_pairs_from_simhash(
        sh, id_col, bits, max_hamming, block_cols
    )


def _banded_pairs_from_simhash(
    sh: DataFrame,
    id_col: str,
    bits: int,
    max_hamming: int,
    block_cols: Sequence[str] = (),
) -> DataFrame:
    """Manku banded-LSH candidate join + Hamming verify over a frame
    of PRECOMPUTED fingerprints ``(id_col, *block_cols, simhash)`` —
    the tail of :func:`simhash_pairs`, shared with
    :func:`simhash_component_edges` so the cascade never recomputes
    votes. NULL simhash (tokenless docs under ``keep_empty``) and NULL
    block values never equi-join, so such rows produce no pairs.

    ``simhash`` rides through the band explode, so the Hamming check
    reads both fingerprints off the joined band rows — no join back to
    ``sh`` per pair endpoint. ``sh``'s only consumer is the banded
    relation; the two self-join sides differ only in column aliases,
    so they stay canonically equal and AQE reuses every exchange below
    them."""
    n_bands = max_hamming + 1
    width = bits // n_bands

    # band b = bits [b*width, (b+1)*width) — last band absorbs remainder
    def band_val(b: int) -> Column:
        w = width + (bits % n_bands if b == n_bands - 1 else 0)
        mask = (1 << w) - 1
        return F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask))

    banded = sh.select(
        F.col(id_col).alias("_id"),
        *block_cols,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        band_val(b).alias("band_value"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("_id", *block_cols, "simhash", "band.band_idx", "band.band_value")

    # rename-style self-join (see minhash_lsh_pairs note on alias-style
    # self-join mis-resolution)
    def side(s: str) -> DataFrame:
        return banded.select(
            *block_cols,
            "band_idx",
            "band_value",
            F.col("_id").alias(f"id_{s}"),
            F.col("simhash").alias(f"sh_{s}"),
        )

    return (
        side("a")
        .join(side("b"), on=[*block_cols, "band_idx", "band_value"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_component_edges(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    block_cols: Sequence[str] = (),
    hash_family: str = "md5",
) -> DataFrame:
    """Connectivity-equivalent edge set for near-dup CLUSTERING — the
    exact→near cascade with LINEAR star edges.

    Exact clones are collapsed on an injective null-safe fingerprint
    of ``(block_cols, text)`` (each component length-prefixed before
    hashing — a text containing a would-be separator can never collide
    across blocks — and NULL when any component is NULL, matching
    :func:`simhash_pairs`' equi-join blocking where NULL never
    matches). Each clone group contributes ``g − 1`` rep→member star
    edges instead of its ``g(g−1)/2`` clique — cliques and stars
    connect the same vertex sets, and rep↔rep candidacy transfers
    member↔member for byte-identical texts, so connected components
    and their min labels are IDENTICAL to :func:`simhash_pairs` over
    the full corpus. The banded near-dup search runs over
    REPRESENTATIVES only.

    Plan shape (round-9 rework): the round-8 formulation fed raw text
    through the collapse groupBy and joined text back for the rep
    search — at LOW clone rates that was a full extra text shuffle for
    zero edge savings (driver bench: dedup_clusters 1.2 s → 2.3 s at
    sf0.1, adjudicated in SCALE.md). Now the vote aggregation runs
    ONCE over all rows with the fingerprint riding as a carry column
    (``keep_empty=True`` so tokenless docs survive with NULL simhash),
    and everything after it — the collapse groupBy, the rep semi-join,
    the star edges, the band join — touches only ``(id, blocks, 16-
    byte fp, simhash)``. Text never enters ANY exchange, so the
    cascade costs two narrow shuffles over the clique plan at any
    clone rate, while keeping the star win where it matters: clone-
    heavy buckets no longer explode the band self-join quadratically.

    Returns ``(id_a, id_b)`` edges, NOT the verified pair relation:
    pair COUNTS and per-pair scores differ from the clique form, so
    consumers that report pairs themselves (``split_leakage_audit``'s
    leaked-pair tallies, jaccard reports) must keep
    :func:`simhash_pairs`; consumers that only need components
    (``dedup_clusters``, ``dedup_canonical_docs``) should use this.

    One documented asymmetry, unchanged from round 8: byte-identical
    TOKENLESS texts (e.g. empty strings) in one block still collapse
    into a clone group and gain star edges, while simhash_pairs can
    never pair them (no tokens → no bands) — exact dedup semantics for
    exact duplicates, pinned by the oracle.
    """

    def _len_prefixed(c):
        col = F.col(c).cast("string")
        return F.concat(F.lpad(F.length(col).cast("string"), 10, "0"), col)

    fp = F.md5(
        F.concat(*[_len_prefixed(c) for c in [*block_cols, text_col]])
    )
    base = df.select(
        id_col, text_col, *block_cols, fp.alias("_fp")
    )
    # one vote aggregation for ALL rows; fp + blocks ride as carries
    # (functionally dependent on the id). MATERIALIZED through
    # cache.materialize (a .persist() through r13) — the star branch
    # and the band branch both consume it, and the materialization
    # does three things the cache did not:
    #   1. every downstream op builds on a LogicalRDD LEAF, so the
    #      ~25-op banded/star construction stops re-walking the
    #      48-aggregate vote subtree in the analyzer (~0.6 s/build of
    #      driver time at sf0.1 — the r13 verdict's top item);
    #   2. per-build RDD identity makes the bench's per-sample rebuilds
    #      HONEST: the persist form was plan-equality re-matched by the
    #      CacheManager across rebuilds, so bench samples 2-3 silently
    #      reused sample 1's vote pass (the r13 warm-cache subsidy);
    #   3. action-time replanning is leaf-rooted (~0.2 s faster).
    # Interleaved cold receipts (commit 6ff543a, SCALE.md):
    # dedup_clusters 3.3-4.7 s -> 2.0-2.7 s, dedup_canonical_docs
    # 3.3-3.5 s -> 2.0-2.2 s per cold sample. Trade: the vote job runs
    # eagerly at build (so ``prepared`` rebuilds its queries per call), and
    # the blocks are per-build (GC'd with the frame) instead of a
    # shared cache entry — a service that builds once is unaffected.
    sh = materialize(
        simhash_bits(
            base,
            id_col,
            text_col,
            bits,
            hash_family,
            carry_cols=[*block_cols, "_fp"],
            keep_empty=True,
        )
    )
    clonable = sh.filter(F.col("_fp").isNotNull())
    # ONE collapse aggregate delivers both the rep id and the rep's
    # fingerprint row: ids are unique and lead the struct, so
    # min(struct) IS min-by-id, and the simhash/blocks ride along —
    # no semi-join back to sh needed
    groups = clonable.groupBy("_fp").agg(
        F.min(
            F.struct(
                F.col(id_col),
                F.col("simhash"),
                *[F.col(c) for c in block_cols],
            )
        ).alias("_r")
    )
    star = (
        clonable.select(id_col, "_fp")
        .join(
            groups.select("_fp", F.col(f"_r.{id_col}").alias("_rep")),
            on="_fp",
        )
        .filter(F.col(id_col) != F.col("_rep"))
        .select(
            F.least("_rep", F.col(id_col)).alias("id_a"),
            F.greatest("_rep", F.col(id_col)).alias("id_b"),
        )
    )
    # representatives: one per clone group, plus every NULL-keyed row
    # (they can never pair — NULL block/simhash never equi-joins).
    # Not cached: the banded relation is its only consumer, and the
    # collapse groupBy's exchange is shared with the star branch and
    # both band self-join sides (ReusedExchange), so the collapse
    # shuffle runs once per execution.
    reps_sh = groups.select(
        F.col(f"_r.{id_col}").alias(id_col),
        *[F.col(f"_r.{c}").alias(c) for c in block_cols],
        F.col("_r.simhash").alias("simhash"),
    ).unionByName(
        sh.filter(F.col("_fp").isNull()).select(id_col, *block_cols, "simhash")
    )
    rep_pairs = _banded_pairs_from_simhash(
        reps_sh, id_col, bits, max_hamming, block_cols
    ).select("id_a", "id_b")
    return rep_pairs.unionByName(star)


def _gram_hashes(t: DataFrame, id_col: str, n: int) -> DataFrame:
    """``(id_col, pos, gh)`` — 1-based word-*n*-gram start positions
    with 60-bit md5 gram hashes, over a prepared ``(id, toks)``
    relation (lowered tokens). Documents shorter than *n* tokens
    contribute one truncated gram (the whole doc). Positions ride the
    explode — one scan, no shuffle."""
    return t.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("toks") - F.lit(n - 1), F.lit(1)),
                ),
                lambda i: F.array_join(F.slice(F.col("toks"), i, n), " "),
            )
        ).alias("pos0", "gram"),
    ).select(
        id_col,
        (F.col("pos0") + 1).alias("pos"),
        md5_long(F.col("gram")).alias("gh"),
    )


def shared_gram_positions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    approx: bool = False,
) -> DataFrame:
    """Positions of word-*n*-grams shared across ≥2 distinct documents
    (the flagging pass of Lee et al., "Deduplicating Training Data
    Makes Language Models Better", ACL 2022 — their ExactSubstr stage
    flags repeated substrings, we flag repeated token n-grams).

    Returns ``(id_col, pos)`` — 1-based gram start positions whose
    gram also occurs in some OTHER document. Tokens are lowercased
    whitespace tokens; documents shorter than *n* tokens contribute
    one truncated gram (the whole doc) so short clones still flag.

    Scale: positions ride the explode (no second scan); the
    document-frequency aggregate is vocabulary-sized and folds with
    map-side partials. The ≥2-docs predicate needs only "more than
    one distinct doc", which ``min(id) != max(id)`` answers EXACTLY
    with two 8-byte accumulators — no distinct-set state at all, so
    the default is both exact and cheaper than ``countDistinct``.
    ``approx=True`` swaps in ``approx_count_distinct(rsd=0.05) >= 2``
    for the case where the caller also wants the df counts at 100 TB
    sketch cost; it can only over-flag never-shared grams at the
    sketch's error rate (flagged grams still verify via the run-length
    threshold downstream), and is NOT oracle-exact — keep the default
    for anything hash-compared cross-engine.
    """
    t = df.select(
        id_col,
        F.transform(token_array(F.col(text_col)), F.lower).alias("toks"),
    )
    g = _gram_hashes(t, id_col, n)
    if approx:
        shared = (
            g.groupBy("gh")
            .agg(F.approx_count_distinct(id_col, rsd=0.05).alias("_nd"))
            .filter(F.col("_nd") >= 2)
        )
    else:
        shared = (
            g.groupBy("gh")
            .agg(F.min(id_col).alias("_lo"), F.max(id_col).alias("_hi"))
            .filter(F.col("_lo") != F.col("_hi"))
        )
    return g.join(shared.select("gh"), on="gh").select(id_col, "pos")


def span_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_run: int = 8,
    approx: bool = False,
) -> DataFrame:
    """Exact-substring span REMOVAL (Lee et al., ACL 2022 §4.1): cut
    duplicated spans from each document, keeping exactly one canonical
    occurrence per duplicate cluster, and report reclaimed tokens.

    Pipeline: flag shared-gram positions (:func:`shared_gram_positions`)
    → gaps-and-islands per doc → maximal runs of ≥ *min_run*
    consecutive shared grams (a run of r grams covers ``r + n - 1``
    tokens, so the default cuts spans of ≥ ``min_run + n - 1`` tokens
    — the scaled-down analog of the paper's 50-token threshold) →
    cluster occurrences by exact span CONTENT (md5 of the covered
    tokens) → canonical occurrence = min ``(doc, start)`` per cluster,
    all other occurrences' token ranges are cut.

    Returns one row per AFFECTED document: ``(id_col, n_tokens,
    n_removed, n_kept, dedup_text)`` where ``dedup_text`` is the
    surviving ORIGINAL-CASE tokens rejoined with single spaces (empty
    string when a whole-clone document is cut entirely) and
    ``n_kept + n_removed == n_tokens`` by construction.

    Fidelity contract: gram flagging and span-content clustering are
    case-insensitive (tokens are lowercased ONLY for hashing), but the
    emitted text keeps each surviving token's original bytes — like
    the reference technique, cutting a span does not case-fold the
    rest of the document (round-10 advisor). Whitespace IS normalized:
    the emit is token-based, so runs of whitespace between surviving
    tokens collapse to single spaces.

    Scale: token arrays never enter a gram-keyed exchange — they ride
    exactly two doc-keyed joins (span-content slice, final cut), both
    inner against relations bounded by the corpus duplication rate, so
    AQE broadcast-joins them when small. Cut spans collapse to one
    per-doc INTERVAL array (one entry per removable span, NOT one per
    position — a whole-clone document carries a single interval, so
    the removal filter is O(tokens × spans), never O(tokens²); round-10
    advisor) before touching the corpus; the removal itself is a pure
    Catalyst ``filter`` lambda over the token array — no token-level
    shuffle anywhere. Overlapping islands cannot double-count:
    coverage is a per-position interval-membership test, and
    ``n_removed`` counts positions, not interval lengths.
    """
    t = df.select(
        id_col,
        token_array(F.col(text_col)).alias("otoks"),
    ).withColumn("toks", F.transform(F.col("otoks"), F.lower))
    flagged = shared_gram_positions(df, text_col, id_col, n, approx=approx)
    from pyspark.sql import Window as W

    w = W.partitionBy(id_col).orderBy(F.asc("pos"))
    islands = flagged.select(
        id_col,
        "pos",
        (F.col("pos") - F.row_number().over(w)).alias("island"),
    )
    runs = (
        islands.groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("p1"),
            F.max("pos").alias("p2"),
            F.count("*").alias("run_len"),
        )
        .filter(F.col("run_len") >= min_run)
        .drop("island", "run_len")
    )
    # span CONTENT rides one doc-keyed inner join (runs is small —
    # only long-shared-run docs survive the min_run filter)
    spans = runs.join(t, on=id_col).select(
        id_col,
        "p1",
        F.least(F.col("p2") + F.lit(n - 1), F.size("toks")).alias("tend"),
        F.md5(
            F.array_join(
                F.slice(
                    F.col("toks"),
                    F.col("p1"),
                    F.least(F.col("p2") + F.lit(n - 1), F.size("toks"))
                    - F.col("p1")
                    + 1,
                ),
                " ",
            )
        ).alias("span_h"),
    )
    wc = W.partitionBy("span_h").orderBy(F.asc(id_col), F.asc("p1"))
    removable = (
        spans.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") >= 2)
        .select(id_col, "p1", "tend")
    )
    # one struct per removable SPAN (not per position): the coverage
    # test below is interval membership, so a whole-clone doc costs
    # O(tokens), not O(tokens²)
    cut = removable.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("p1", "tend"))).alias(
            "cut_ivals"
        )
    )
    out = t.join(cut, on=id_col).select(
        id_col,
        F.col("otoks"),
        F.filter(
            F.col("otoks"),
            lambda x, i: ~F.exists(
                F.col("cut_ivals"),
                lambda iv: (i + 1 >= iv["p1"]) & (i + 1 <= iv["tend"]),
            ),
        ).alias("kept"),
    )
    return out.select(
        id_col,
        F.size("otoks").cast("long").alias("n_tokens"),
        (F.size("otoks") - F.size("kept")).cast("long").alias("n_removed"),
        F.size("kept").cast("long").alias("n_kept"),
        F.array_join(F.col("kept"), " ").alias("dedup_text"),
    )


def corpus_gram_hashes(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """The corpus side of :func:`span_removal_between` as a standalone
    relation: DISTINCT 60-bit gram hashes (single ``gh`` column) over
    lowered word-*n*-grams — 8 bytes per distinct gram, the table a
    production pipeline materializes ONCE per corpus snapshot and
    reuses for every incoming crawl batch (persist it, or write it
    bucketed by ``gh`` so the batch semi-join co-locates)."""
    t = corpus.select(
        id_col,
        F.transform(token_array(F.col(text_col)), F.lower).alias("toks"),
    )
    return _gram_hashes(t, id_col, n).select("gh").distinct()


def span_removal_between(
    batch: DataFrame,
    corpus: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_run: int = 8,
    corpus_grams: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL exact-substring span removal — the production shape
    of :func:`span_removal` (round-10 verdict #6): cut from each BATCH
    document every run of ≥ *min_run* consecutive grams already
    present in the CORPUS, without re-deduplicating the corpus. The
    canonical occurrence of every flagged span lives in the corpus by
    definition, so every covered batch occurrence is removable — no
    span-content clustering or keep-one logic is needed (that is what
    makes the incremental pass cheaper than the batch one).

    Strictly CROSS-RELATION, mirroring ``minhash_lsh_pairs_between``:
    duplication WITHIN the batch is deliberately not flagged — compose
    with :func:`span_removal` over the batch for that. The flags for a
    batch document depend only on (document, corpus), so the output is
    independent of how a crawl is sliced into batches (pinned by the
    batch-boundary-independence test).

    Same output contract as :func:`span_removal`: one row per AFFECTED
    batch document ``(id_col, n_tokens, n_removed, n_kept,
    dedup_text)``, original casing preserved, whitespace normalized,
    interval-based cut application (O(tokens × spans)).

    Scale: the corpus contributes ONLY its distinct gram-hash table —
    8 bytes per distinct gram, the relation a production pipeline
    persists once and reuses per crawl; the batch's gram stream
    semi-joins it on ``gh`` (broadcast when the batch is small — at
    100 TB the gram table is bucketed on ``gh`` and the join
    co-locates), and token arrays never enter that exchange: they ride
    one batch-keyed join for the final cut, exactly as in the batch
    operator. Pass a prebuilt (persisted/bucketed)
    :func:`corpus_gram_hashes` relation via *corpus_grams* to amortize
    the corpus pass across many batches — the streaming twin does
    exactly this, one gram-table build for the whole drain.
    """
    if (corpus is None) == (corpus_grams is None):
        raise ValueError(
            "exactly one of corpus / corpus_grams must be given"
        )
    t = batch.select(
        id_col,
        token_array(F.col(text_col)).alias("otoks"),
    ).withColumn("toks", F.transform(F.col("otoks"), F.lower))
    cg = (
        corpus_grams.select("gh")
        if corpus_grams is not None
        else corpus_gram_hashes(corpus, text_col, id_col, n)
    )
    # LEFT SEMI: flagging needs only gh EXISTENCE, and a semi join is
    # duplicate-immune by construction — a caller-supplied corpus_grams
    # with duplicate gh rows cannot multiply flagged (doc, pos) rows
    # and fragment the gaps-and-islands runs (round-11 advisor),
    # without paying a defensive corpus-sized distinct exchange.
    flagged = (
        _gram_hashes(t, id_col, n)
        .join(cg, on="gh", how="left_semi")
        .select(id_col, "pos")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy(id_col).orderBy(F.asc("pos"))
    islands = flagged.select(
        id_col,
        "pos",
        (F.col("pos") - F.row_number().over(w)).alias("island"),
    )
    runs = (
        islands.groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("p1"),
            F.max("pos").alias("p2"),
            F.count("*").alias("run_len"),
        )
        .filter(F.col("run_len") >= min_run)
        .drop("island", "run_len")
    )
    cut = (
        runs.join(t.select(id_col, F.size("toks").alias("_sz")), on=id_col)
        .select(
            id_col,
            F.struct(
                F.col("p1"),
                F.least(F.col("p2") + F.lit(n - 1), F.col("_sz")).alias(
                    "tend"
                ),
            ).alias("_iv"),
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("_iv")).alias("cut_ivals"))
    )
    out = t.join(cut, on=id_col).select(
        id_col,
        F.col("otoks"),
        F.filter(
            F.col("otoks"),
            lambda x, i: ~F.exists(
                F.col("cut_ivals"),
                lambda iv: (i + 1 >= iv["p1"]) & (i + 1 <= iv["tend"]),
            ),
        ).alias("kept"),
    )
    return out.select(
        id_col,
        F.size("otoks").cast("long").alias("n_tokens"),
        (F.size("otoks") - F.size("kept")).cast("long").alias("n_removed"),
        F.size("kept").cast("long").alias("n_kept"),
        F.array_join(F.col("kept"), " ").alias("dedup_text"),
    )
