"""Corpus sampling & curation operators.

Training-data-pipeline extensions (north star in BASELINE.json): a
100 TB corpus is never trained on whole — it is sampled to a token
budget, rebalanced across sources, and pruned to the best documents.
The operators here are the standard building blocks:

* hash sampling   — DETERMINISTIC Bernoulli sampling keyed on a stable
  id (``md5(salt:key) mod 100 < rate``). Unlike ``df.sample()``, the
  same row makes the same keep/drop decision on every run, on every
  engine, regardless of partitioning — which makes samples
  reproducible, join-compatible across tables sampled on the same key,
  and incrementally stable as the corpus grows (the salt rotates the
  sample). This is the sampling scheme large-corpus pipelines use for
  held-out splits and ablation subsets.
* stratified rates — per-stratum keep rates (e.g. up-sample rare
  sources, down-sample crawl dumps) expressed as a literal CASE map so
  the filter stays a Catalyst predicate on the scan.
* top-k curation  — keep the best *k* rows per group by a score with a
  deterministic tiebreak (quality pruning per domain/source).

All pure built-in expressions: the sampling predicate pushes into the
scan, the curation window shuffles once on the group key. No reference
counterpart (the reference has no sampling surface) — cited as an
extension in COVERAGE.md.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.functions.core import md5_long


def sample_bucket(key: Column, salt: str = "sample") -> Column:
    """Stable bucket in [0, 100) for a row key: ``md5(salt:key) % 100``.

    SQL twin: ``('0x' || substr(md5('<salt>:' || key), 1, 15))::BIGINT
    % 100``.
    """
    return md5_long(key.cast("string"), salt=salt) % 100


def hash_sample(
    df: DataFrame, key_col: str, rate_pct: int, salt: str = "sample"
) -> DataFrame:
    """Deterministic ~*rate_pct*% Bernoulli sample keyed on *key_col*."""
    return df.filter(sample_bucket(F.col(key_col), salt) < F.lit(rate_pct))


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates_pct: Mapping[str, int],
    default_pct: int,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic sample with a per-stratum keep rate.

    *rates_pct* maps stratum values to percentages; unlisted strata get
    *default_pct*. The rate lookup is a literal CASE chain, so the whole
    filter is one scan-level predicate.
    """
    rate: Column = F.lit(default_pct)
    for value, pct in sorted(rates_pct.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(pct)).otherwise(rate)
    return df.filter(sample_bucket(F.col(key_col), salt) < rate)


def keep_top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str | None = None,
) -> DataFrame:
    """Keep the top-*k* rows of every group under a TOTAL order.

    *order_by* must be deterministic (tiebreak on a unique id) — same
    rule as :func:`~air_quality_etl_pipeline_spark.operators.cleaning.
    dedup_first`, of which this is the k>1 generalization. One shuffle
    on the group key; map-side nothing to combine (row-level rank), so
    at scale prefer a pre-filter on a cheap score threshold before the
    window when groups are huge.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    rk = F.row_number().over(w)
    if rank_col is None:
        return df.withColumn("_rk", rk).filter(F.col("_rk") <= k).drop("_rk")
    return df.withColumn(rank_col, rk).filter(F.col(rank_col) <= k)


def sample_weighted(
    df: DataFrame,
    key_col: str,
    weight: Column,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic WEIGHTED Bernoulli sampling: keep each row with
    probability *weight* (a column in [0, 1]) — importance sampling
    for quality-proportional corpus selection ("keep good documents
    with p≈1, keep boilerplate with p≈0.1").

    The uniform draw is ``md5(salt:key) / 2^60`` — a stable 60-bit
    fraction, so the decision is reproducible per key across runs,
    engines and partitionings, exactly like :func:`hash_sample` (which
    is the constant-weight special case). The predicate is a pure
    Catalyst expression evaluated inside the scan; the SQL twin is
    ``('0x' || substr(md5('<salt>:' || key), 1, 15))::BIGINT
    / 1152921504606846976.0 < weight``.
    """
    u = md5_long(F.col(key_col).cast("string"), salt=salt) / F.lit(
        float(1 << 60)
    )
    return df.filter(u < weight)


def mixture_sample(
    df: DataFrame,
    key_col: str,
    source_col: str,
    target_weights: Mapping[str, float],
    budget: int,
    salt: str = "mix",
) -> DataFrame:
    r"""Domain-mixture downsampling: pick ≈\ *budget* rows whose source
    composition matches *target_weights* (the Pile/Llama-style
    training-mix step: "20% web, 40% code, ..."), deterministically.

    Per source s: quota ``q_s = w_s·budget``, keep probability
    ``p_s = min(1, q_s / n_s)`` where ``n_s`` is the source's actual
    row count — a source UNDER its quota is kept whole (no oversampling
    or duplication; renormalize weights upstream if hard proportions
    are required). The draw is the same stable 60-bit md5 fraction as
    :func:`sample_weighted`, so membership is reproducible per key
    across runs, engines and partitionings.

    Scale shape: one count aggregate per source (a handful of rows) is
    broadcast back onto the corpus scan; the keep decision is then a
    pure scan-level predicate — the 100 TB corpus is read once and
    never shuffled.
    """
    rate: Column = F.lit(0.0)
    for value, w in sorted(target_weights.items()):
        rate = F.when(
            F.col(source_col) == value, F.lit(float(w) * budget)
        ).otherwise(rate)
    counts = df.groupBy(source_col).agg(F.count("*").alias("_n_src"))
    with_p = df.join(F.broadcast(counts), on=source_col).withColumn(
        "_p", F.least(F.lit(1.0), rate / F.col("_n_src"))
    )
    u = md5_long(F.col(key_col).cast("string"), salt=salt) / F.lit(
        float(1 << 60)
    )
    return with_p.filter(u < F.col("_p")).drop("_n_src", "_p")


def seeded_shuffle(
    df: DataFrame,
    key_col: str,
    num_shards: int,
    seed: str = "shuffle",
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic uniform GLOBAL shuffle into balanced fixed-count
    shards — the training-data export staple: break all source
    locality (domain/time/quality runs) so every shard is an unbiased
    sample a data loader can stream independently, yet the layout is
    a pure function of ``(key, seed)`` — reproducible across runs,
    engines, and partitionings, and re-derivable for any single key
    without touching the corpus.

    Construction: seeded 60-bit draw ``md5(seed:key)`` → exact global
    rank over ``(draw, key)`` via the bucketed two-phase
    :func:`~.order_stats.with_global_rank` (never a global sort; the
    key tiebreak makes rank assignment deterministic even on draw
    collisions) → round-robin ``shard = (rank-1) mod num_shards`` (so
    shard SIZES differ by at most one, by construction) and
    within-shard order ``pos = (rank-1) div num_shards``.

    Contract: *key_col* must be UNIQUE — the rank's total order is
    ``(draw, key)``, so duplicate keys tie completely and their
    relative order (hence shard/pos) would be partition-dependent,
    breaking both determinism claims. Dedup or add a disambiguating
    suffix first. ENFORCED IN-PLAN: the draw is a pure function of
    the key, so duplicate keys are exactly the ties of the rank's
    ``(draw, key)`` order, and the rank machinery asserts strictness
    via a ``rank() != row_number()`` guard inside its existing window —
    zero extra exchanges or actions. A read that evaluates the rank
    (``collect``, a write, anything using ``shard``/``pos``) raises on
    the first duplicate instead of emitting a partition-dependent
    layout; one that column pruning leaves without the rank window
    (``count()``, a ``select`` of input columns only) does not.

    Scale: one draw-keyed exchange for the rank's bucket window;
    per-bucket counts are the only cross-partition traffic beyond it.
    SQL twin of the draw: ``('0x' ||
    substr(md5('<seed>:' || CAST(key AS VARCHAR)), 1, 15))::BIGINT``.
    """
    if num_shards <= 0:
        raise ValueError(f"num_shards must be positive, got {num_shards}")
    from air_quality_etl_pipeline_spark.operators.order_stats import (
        with_global_rank,
    )

    drawn = df.withColumn(
        "_draw", md5_long(F.col(key_col).cast("string"), salt=seed)
    )
    ranked = with_global_rank(
        drawn,
        F.col("_draw"),
        [F.col("_draw").asc(), F.col(key_col).asc()],
        "_rn",
        strict_error=(
            f"seeded_shuffle: duplicate {key_col!r} — key_col must be "
            "unique (shard/pos would be partition-dependent); dedup or "
            "disambiguate first"
        ),
    )
    return (
        ranked.withColumn(
            shard_col,
            ((F.col("_rn") - 1) % num_shards).cast("long"),
        )
        .withColumn(
            pos_col,
            F.expr(f"(_rn - 1) div {num_shards}").cast("long"),
        )
        .drop("_draw", "_rn")
    )
