"""Row-cleaning operators: filters, trims, deduplication.

These are the Silver-layer building blocks of the reference
(``Notebooks/Batch_Bronze_to_Silver.Notebook/notebook-content.py:55-170``
and ``Automated_Bronze_to_Silver:72-172``): IN-list filters (F1),
conjunctive validity predicates (F2), null filters (F3), trim (X1) and
keyed dedup (D1). All parameterized so the same operator runs on any
table. Casts (X2/X3) and the distinct audit (D2) are stock
``Column.cast`` and ``select(...).distinct()``.

Scale notes
-----------
* Filters are plain Catalyst predicates → pushed to the parquet scan
  (``PushedFilters`` in the physical plan) and prunable partitions.
* ``dedup_first`` is the *deterministic* keyed dedup — a ``row_number``
  over a hash-partitioned window. One shuffle on the key, same as
  ``dropDuplicates``, but reproducible under re-execution (required for
  oracle comparison; the reference's ``dropDuplicates`` keeps an
  arbitrary row per key under shuffle).
* ``dedup_any`` keeps the cheap nondeterministic variant for pipelines
  that only need *a* representative row (map-side partial agg applies).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def keep_in(df: DataFrame, col: str, values: Sequence) -> DataFrame:
    """F1 — IN-list filter (reference: 6 EPA pollutant standards)."""
    return df.filter(F.col(col).isin(list(values)))


def valid_rows(df: DataFrame, *conditions: Column) -> DataFrame:
    """F2 — conjunctive validity predicate (reference:
    ``validity_indicator=='Y' AND arithmetic_mean IS NOT NULL AND ...``).
    """
    pred = None
    for c in conditions:
        pred = c if pred is None else (pred & c)
    return df if pred is None else df.filter(pred)


def non_null(df: DataFrame, *cols: str) -> DataFrame:
    """F3 — drop rows with nulls in any of *cols*."""
    return valid_rows(df, *[F.col(c).isNotNull() for c in cols])


def trim_cols(df: DataFrame, *cols: str) -> DataFrame:
    """X1 — whitespace-trim string columns in place."""
    for c in cols:
        df = df.withColumn(c, F.trim(F.col(c)))
    return df


def dedup_first(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str] | None = None,
) -> DataFrame:
    """D1 (deterministic) — keep exactly one row per natural key.

    ``row_number() OVER (PARTITION BY keys ORDER BY order_by) = 1``.
    *order_by* defaults to the remaining columns, giving a total order
    and therefore a reproducible survivor — unlike ``dropDuplicates``,
    whose survivor depends on partitioning/scheduling.
    """
    order_cols: list = list(order_by) if order_by else [
        c for c in df.columns if c not in set(keys)
    ]
    if not order_cols:  # keys cover every column: plain distinct
        return df.distinct()
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        *[F.col(c) if isinstance(c, str) else c for c in order_cols]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_first_agg(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """D1 (deterministic, aggregate form) — same survivor as
    :func:`dedup_first` (min of the *order_by* tuple per key), computed
    as ``min_by(struct(<other cols>), struct(<order_by>))`` instead of
    a ranking window.

    The window form SORTS each key group after a full-width shuffle;
    this form is an aggregate whose partial min_by combines map-side,
    so the exchange carries at most one row per key per input
    partition. WHEN TO USE WHICH (measured at sf0.1/local[32]): with a
    low duplicate rate the window form is ~15%% FASTER (codegen'd sort
    of pruned columns beats the interpreted struct-compare in min_by's
    buffer) — it stays the default. The aggregate form wins when the
    duplicate rate is high (partial combine collapses rows before the
    exchange) or key groups are too large to sort in memory. Column
    order is preserved. (Rows that tie on the whole *order_by* tuple
    have an unspecified survivor in BOTH forms.)
    """
    keyset = set(keys)
    others = [c for c in df.columns if c not in keyset]
    if not others:
        return df.distinct()
    out = df.groupBy(*keys).agg(
        F.min_by(
            F.struct(*[F.col(c) for c in others]),
            F.struct(*[F.col(c) for c in order_by]),
        ).alias("__r")
    )
    return out.select(
        *[
            F.col(c) if c in keyset else F.col(f"__r.{c}").alias(c)
            for c in df.columns
        ]
    )


def dedup_any(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """D1 (fast path) — ``dropDuplicates`` on the natural key. Catalyst
    rewrites this to a hash aggregate with map-side combine; preferable
    at 100 TB when any representative row will do."""
    return df.dropDuplicates(list(keys))


def quality_report(
    df: DataFrame,
    not_null: Sequence[str] = (),
    in_set: dict[str, Sequence] | None = None,
    ranges: dict[str, tuple] | None = None,
    unique: Sequence[Sequence[str]] = (),
) -> DataFrame:
    """Data-quality expectations report (the reference's C6 row-count
    gate generalized into a declarative contract): one row per rule →
    ``(rule, n_violations)``.

    All row-level rules (not-null, in-set, range) evaluate in a SINGLE
    aggregation pass over one scan — adding a rule adds an expression,
    not a job. Uniqueness needs its own ``count - countDistinct``
    aggregate per key set (a distinct shuffle each); at 100 TB run
    those off the same cached scan. The report is data for a gate
    (``assert report.filter(n_violations > 0).isEmpty()``), not a
    side effect — composable into pipelines and oracle-checkable.
    """
    aggs = []
    for c in not_null:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"not_null:{c}")
        )
    for c, vals in (in_set or {}).items():
        bad = ~F.col(c).isin(list(vals)) | F.col(c).isNull()
        aggs.append(F.sum(bad.cast("long")).alias(f"in_set:{c}"))
    for c, (lo, hi) in (ranges or {}).items():
        bad = ~F.col(c).between(lo, hi) | F.col(c).isNull()
        aggs.append(F.sum(bad.cast("long")).alias(f"range:{c}"))
    wide = df.agg(*aggs) if aggs else None
    long = (
        wide.unpivot([], list(wide.columns), "rule", "n_violations")
        if wide is not None
        else None
    )
    for keys in unique:
        keys = list(keys)
        dup = df.agg(
            (F.count("*") - F.countDistinct(*[F.col(k) for k in keys]))
            .cast("long")
            .alias("n_violations")
        ).select(
            F.lit("unique:" + ",".join(keys)).alias("rule"), "n_violations"
        )
        long = dup if long is None else long.unionByName(dup)
    return long

