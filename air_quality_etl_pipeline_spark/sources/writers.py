"""Sinks (SURVEY §2.1 K1, K2; K4 MERGE lives in plans.merge).

The reference writes bronze as hive-partitioned parquet (append and
dynamic-partition overwrite), silver/gold as managed-table overwrites,
and copies gold → warehouse with truncate-and-load semantics
(reference: ``Batch_ingestion...py:201``, ``automated_ingestion
...py:212-213``, ``Automated Pipeline.DataPipeline/pipeline-content
.json:82-177``). The managed-table overwrite and append (K3, K6) and
the truncate-and-load copy (K5) are stock
``df.write.mode(...).saveAsTable(name)``.

File-sizing at scale: repartition by the partition columns before a
partitioned write so each task writes few files per partition (the
reference's ``repartition('state')`` is this, with a mismatched key —
we repartition on the actual partitionBy columns).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned_append(
    df: DataFrame, path: str, partition_cols: Sequence[str]
) -> None:
    """K1: append-mode hive-partitioned parquet sink."""
    (
        df.repartition(*partition_cols)
        .write.format("parquet")
        .mode("append")
        .partitionBy(*partition_cols)
        .save(path)
    )


def write_partitioned_dynamic_overwrite(
    df: DataFrame, path: str, partition_cols: Sequence[str]
) -> None:
    """K2: overwrite ONLY the partitions present in *df* (idempotent
    incremental re-runs), leaving other partitions untouched. Requires
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` (set by the
    session factory / tune_session)."""
    (
        df.repartition(*partition_cols)
        .write.format("parquet")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .save(path)
    )


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Avro sink — availability-gated on the external ``spark-avro``
    module exactly like :func:`sources.readers.read_avro` (see there
    for the classpath probe rationale)."""
    from air_quality_etl_pipeline_spark.sources.readers import (
        avro_available,
    )

    if not avro_available(df.sparkSession):
        raise RuntimeError(
            "spark-avro is not on the classpath; launch with "
            "--packages org.apache.spark:spark-avro_2.13:<spark-version>"
        )
    df.write.mode(mode).format("avro").save(path)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    num_partitions: int | None = None,
) -> None:
    """Range-partitioned, within-partition-sorted parquet layout —
    the data-skipping ("z-order lite") sink.

    ``repartitionByRange`` samples the sort key and assigns contiguous
    key ranges to partitions; ``sortWithinPartitions`` then makes each
    row group's parquet min/max stats TIGHT and NON-OVERLAPPING across
    files. A later scan with a predicate on *sort_cols* skips whole
    files/row groups from footer stats alone — at 100 TB, a selective
    date/key filter reads ~(selectivity × data) instead of everything.
    One range-exchange at write time buys that for every later query.
    """
    parts = df.repartitionByRange(
        *(([num_partitions] if num_partitions else []) + list(sort_cols))
    )
    (
        parts.sortWithinPartitions(*sort_cols)
        .write.format("parquet")
        .mode("overwrite")
        .save(path)
    )


def write_zorder(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 10,
    num_partitions: int | None = None,
) -> None:
    """Z-order (Morton-curve) layout over two or more numeric/date
    columns — multi-column data skipping, same idea as Delta's
    ``OPTIMIZE ZORDER BY``.

    A single-column range sort (:func:`write_range_sorted`) makes one
    column's file min/max tight and leaves the others spanning the full
    domain. Interleaving the bit-planes of each column's normalized
    rank makes files cluster in ALL dimensions at once: with F files,
    each file covers ~F^(-1/k) of every column's range, so selective
    predicates on ANY of the k columns (or several) skip most files
    from footer stats. The curve key is built in one pass: min/max per
    column (one scalar agg), linear normalization to ``bits``-bit ints,
    bit interleave as a single JVM-parsed SQL expression, then
    range-partition + sort on the key. The key is dropped before
    writing — it's layout, not data.
    """
    cols = list(cols)
    stats = df.agg(
        *[F.min(c).alias(f"lo_{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"hi_{i}") for i, c in enumerate(cols)],
    ).first()
    parts: list[str] = []
    scale = (1 << bits) - 1
    for i, c in enumerate(cols):
        lo, hi = stats[f"lo_{i}"], stats[f"hi_{i}"]
        # dates/timestamps normalize through their numeric cast
        span = f"(CAST(`{c}` AS DOUBLE) - CAST('{lo}' AS DOUBLE))"
        width = float(hi) if isinstance(hi, (int, float)) else None
        if width is not None:
            denom = float(hi) - float(lo)
            norm = f"0L" if denom == 0 else (
                f"CAST({span} / {denom} * {scale} AS LONG)"
            )
        else:  # date-like: diff in days
            norm = (
                f"CAST(datediff(`{c}`, DATE '{lo}') / "
                f"greatest(datediff(DATE '{hi}', DATE '{lo}'), 1) "
                f"* {scale} AS LONG)"
            )
        parts.append(norm)
    k = len(cols)
    interleave = " + ".join(
        f"(((({p}) >> {b}) & 1) << {b * k + i})"
        for i, p in enumerate(parts)
        for b in range(bits)
    )
    z = df.withColumn("__z", F.expr(interleave))
    z = z.repartitionByRange(
        *(([num_partitions] if num_partitions else []) + ["__z"])
    )
    (
        z.sortWithinPartitions("__z")
        .drop("__z")
        .write.format("parquet")
        .mode("overwrite")
        .save(path)
    )


def compact_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction (Delta ``OPTIMIZE``-style bin packing):
    rewrite a parquet directory into ``ceil(total_bytes /
    target_file_bytes)`` files. Returns the new file count.

    Small files are the silent killer of 100 TB scans — every file
    costs a task, a footer read, and an open/close round trip; a
    streaming or per-partition-append sink can easily leave millions
    of KB-sized files. Compaction is IO-bound and embarrassingly
    parallel: one read + one round-robin repartition + one write.
    The rewrite lands in a temp dir first and swaps in atomically-ish
    (rename) so a crash never leaves the directory half-written.
    """
    import math
    import os
    import shutil as _shutil

    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n = max(1, math.ceil(total / target_file_bytes))
    tmp = f"{path}__compacting"
    _shutil.rmtree(tmp, ignore_errors=True)
    spark.read.parquet(path).repartition(n).write.mode("overwrite").parquet(tmp)
    _shutil.rmtree(path)
    os.rename(tmp, path)
    return sum(
        1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Bucketed + sorted managed table — the co-located-join layout.

    Two tables bucketed by the same key with the same bucket count join
    WITHOUT a shuffle: each bucket file pair is already co-partitioned,
    so the sort-merge join runs exchange-free (and sort-free when
    *sort_cols* match the key). This is the pre-paid shuffle for
    fact↔fact joins repeated across many queries — at 100 TB the win is
    paying the exchange once at write time instead of per query.
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def write_with_metrics(
    df: DataFrame,
    path: str,
    count_col: str | None = None,
) -> dict:
    """Write parquet while collecting QA metrics IN the write pass via
    ``df.observe`` — row count and (optionally) a null count for
    *count_col* — returning ``{"n_rows": ..., "n_nulls": ...}``.

    The reference prints per-layer row counts with separate
    ``df.count()`` actions (``Automated_Bronze_to_Silver...py:211-213``
    in the reference repo) — at 100 TB each of those is a full second
    scan. ``observe`` attaches accumulator-backed aggregates to the
    SAME job that writes, so the QA numbers are free. This is the
    pattern every production sink here should use.
    """
    from pyspark.sql import Observation

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if count_col is not None:
        aggs.append(
            F.sum(F.col(count_col).isNull().cast("long")).alias("n_nulls")
        )
    obs = Observation("write_metrics")
    df.observe(obs, *aggs).write.mode("overwrite").parquet(path)
    return dict(obs.get)


def write_shuffled_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    num_shards: int,
    seed: str = "shuffle",
) -> None:
    """Seeded global shuffle-to-shards sink: lay the dataset out as
    ``shard=K/`` hive partitions whose membership, sizes (±1), and
    within-shard row order are a pure function of ``(key, seed)`` —
    byte-stable across runs and re-derivable per key without a corpus
    scan (:func:`~.operators.sampling.seeded_shuffle` builds the
    assignment; this sink only fixes the physical layout).

    ``repartition(num_shards, shard)`` keys the exchange on the shard
    id so each output directory is written by few tasks;
    ``sortWithinPartitions(shard, pos)`` pins the row order inside
    every file, which (with parquet's deterministic encoding) makes
    re-runs produce identical bytes — the property the writer test
    asserts. At 100 TB, bump ``num_shards`` so a shard fits an
    executor's write buffer; the shuffle payload is one pass of the
    dataset keyed by an 8-byte column, the same cost class as any
    partitioned write."""
    from air_quality_etl_pipeline_spark.operators.sampling import (
        seeded_shuffle,
    )

    out = seeded_shuffle(df, key_col, num_shards, seed)
    (
        out.repartition(num_shards, F.col("shard"))
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def write_span_deduped_corpus(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_run: int = 8,
) -> None:
    """Emit the span-DEDUPLICATED corpus (Lee et al., ACL 2022): every
    document, with non-canonical duplicated spans cut — untouched
    documents pass through verbatim, affected documents carry their
    cut text (:func:`~.operators.dedup.span_removal`; empty string
    for fully-removed whole clones). The schema is the input schema
    with *text_col* rewritten, so the output is a drop-in replacement
    corpus for every downstream stage.

    Fidelity: untouched documents are byte-identical; affected
    documents keep every surviving token's original casing (matching
    is case-insensitive, the emit is not), but their inter-token
    whitespace is normalized to single spaces — the cut text is a
    token-level rejoin, the one fidelity loss of the token-based
    emit (documented per the round-10 advisor).

    Scale: the affected relation is bounded by the corpus duplication
    rate, so the join back onto the corpus is key-sized on the
    non-duplicated side (AQE broadcasts it when small); untouched
    text never moves through any extra exchange beyond the write
    itself."""
    from air_quality_etl_pipeline_spark.operators.dedup import span_removal

    cut = span_removal(docs, text_col, id_col, n=n, min_run=min_run).select(
        id_col, F.col("dedup_text").alias("_dedup_text")
    )
    out = docs.join(cut, on=id_col, how="left").select(
        *[
            F.coalesce(F.col("_dedup_text"), F.col(c)).alias(c)
            if c == text_col
            else F.col(c)
            for c in docs.columns
        ]
    )
    out.write.mode("overwrite").parquet(path)
