"""Structured Streaming jobs over the events stream.

The reference has no true streaming (§2.8) — its "automated" path is a
weekly-scheduled incremental batch. This module is the Structured
Streaming expression of that same pipeline: the identical tumbling
1-day window aggregate runs under ``readStream`` with a watermark, so
moving from scheduled batch to continuous processing is a source swap,
not a rewrite.

Design notes for scale:

* File source + ``availableNow`` trigger = incremental batch with
  exactly-once file tracking — the streaming-native replacement for the
  reference's date-window re-ingest.
* The watermark bounds state: aggregates for windows older than the
  watermark are finalized and evicted, so state size is O(active
  windows), not O(history).
* ``foreachBatch`` is the hook where the merge-upsert sink
  (plans.merge) plugs in for idempotent gold-table maintenance.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.plans.merge import (
    apply_cdc_scd2,
    cdc_snapshot,
    cdc_winners,
)

_sink_ids = itertools.count()


def stream_table_path(
    spark: SparkSession, sf_dir: str, table: str
) -> tuple[str, str | None]:
    """Resolve how to point a file-source stream at
    ``{sf_dir}/{table}.parquet``, which exists in two physical shapes:
    the driver testdata is ONE FILE of that name (a file can't be a
    stream basePath, so stream ``sf_dir`` with a ``pathGlobFilter``),
    while Spark-written tables are a DIRECTORY of part files — where
    the same glob matches nothing and the stream silently reads ZERO
    rows (caught by the round-7 sf1 oracle sweep; round 8 factored the
    fix here so every stream call site shares it).

    Returns ``(base_path, glob_or_None)``. The directory check goes
    through the Hadoop FileSystem API so it answers correctly for any
    filesystem the session can read (HDFS/S3/local), not just the
    driver's local disk; if the path scheme can't be resolved at all
    (no such file yet), the caller's downstream read raises the real
    error.
    """
    path = f"{sf_dir}/{table}.parquet"
    try:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(hconf)
        is_dir = fs.getFileStatus(jpath).isDirectory()
    except Exception:
        # unresolvable via Hadoop (e.g. path missing): fall back to a
        # plain local check so local callers still get the right shape
        is_dir = os.path.isdir(path)
    if is_dir:
        return path, None
    return sf_dir, f"{table}.parquet"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table, robust to the physical
    ``ts`` encoding (TIMESTAMP(NANOS)-as-INT64 under the legacy conf in
    older testdata, plain TIMESTAMP(MICROS) in newer). The declared
    stream schema is resolved from one batch-read of the same file —
    file streams require an explicit schema, and guessing it wrong
    silently yields nulls. Nanos handling matches the batch reader:
    integer DIV 1000 → timestamp_micros (float division would corrupt
    1.7e18-scale values past double's 2^53)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    resolved = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    base, glob = stream_table_path(spark, sf_dir, "events")
    reader = spark.readStream.schema(resolved)
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.parquet(base)
    ts_type = {f.name: f.dataType.simpleString() for f in resolved}["ts"]
    if ts_type == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":
        # value-preserving under the UTC session tz (same as the batch
        # reader); watermarks and window() then see plain TIMESTAMP
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def daily_counts(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Tumbling 1-day window per event_type: count + exact decimal sum.
    Same operator tree as the batch twin (workload.events_daily_window);
    the watermark makes it safe for late data under append sinks."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    length: str = "3 days",
    slide: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Sliding (overlapping) window per event_type: each event lands in
    ``length/slide`` windows (here 3). Spark assigns all of them in one
    pass — no self-join, no explode; state per key is bounded by the
    watermark exactly as with tumbling windows. The batch oracle is the
    explicit explode-by-offset formulation."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", length, slide).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session-window aggregate per user: Spark's native
    ``session_window`` merges events closer than *gap* into one window.
    Works identically under batch groupBy and streaming with watermark —
    the batch twin is the gaps-and-islands SQL formulation."""
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "sum_value",
        )
    )


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    a per-user running (count, decimal-cents sum) held in GroupState
    across micro-batches, emitted as updates each batch.

    This is the escape hatch for semantics window aggregates can't
    express (custom eviction, cross-batch counters, ML feature state).
    State size is O(distinct users); at 100 TB partition by user hash so
    state shards across executors — GroupState is per-key, so that is
    automatic under the groupBy.

    The update function is SELF-CONTAINED (imports inside, no module
    globals): executors unpickle it without this package installed.
    Money is accumulated in integer cents — repeated float addition
    across batches would drift versus the batch oracle.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, sum_value double"
    state_schema = "n bigint, cents bigint"

    def update(key, pdfs, state):
        import pandas as _pd

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # round half-up per event to exact cents, like CAST(x AS
            # DECIMAL(18,2)) does in the batch aggregate
            cents += int(
                (pdf["value"] * 100).round(0).astype("int64").sum()
            )
        state.update((n, cents))
        yield _pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [cents / 100.0],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_stream_attrib_join(
    events: DataFrame,
    attrib_window: str = "1 hour",
    watermark: str = "1 day",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the view
    events that preceded it within *attrib_window*, per user.

    Both sides are the SAME input stream filtered two ways — Spark
    buffers each side's rows in watermark-bounded state and emits a row
    whenever a (view, purchase) pair lands inside the interval. The
    time-bound condition is what makes unbounded stream↔stream joins
    feasible: the watermark plus the interval upper bound lets the
    engine evict view-state older than ``watermark + attrib_window``
    and purchase-state older than ``watermark``, so state is O(traffic
    in the window), not O(history). Append-only output (required for
    stream-stream inner joins).
    """
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = views.join(
        purchases,
        F.expr(
            f"v_user = p_user AND purchase_ts >= view_ts "
            f"AND purchase_ts <= view_ts + INTERVAL {attrib_window}"
        ),
    )
    return joined.select(
        F.col("v_user").alias("user_id"), "view_id", "purchase_id"
    )


def stream_static_enrich(
    events: DataFrame, dim: DataFrame, on: str | list[str]
) -> DataFrame:
    """Stream-static enrichment: join the unbounded stream to a bounded
    dimension. The static side is broadcast — each micro-batch probes
    an executor-local hash map, no state store and no watermark needed
    (unlike stream-stream joins), which is why this is THE pattern for
    attaching reference data at 100 TB/day: the stream never shuffles
    for the join. Left join keeps events whose key has no dim row."""
    return events.join(F.broadcast(dim), on=on, how="left")


def run_available_now(
    result: DataFrame, spark: SparkSession, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming aggregate over everything currently in the
    source and return the final result as a batch DataFrame.

    ``availableNow`` processes all existing files then stops — the
    streaming-native incremental batch. Output goes to a named memory
    sink; unique sink names keep repeated calls independent within one
    session. ``update`` mode may emit several rows per key (one per
    micro-batch) — the caller keeps the final one."""
    name = f"stream_sink_{next(_sink_ids)}"
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def tws_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running (count, max, exact-cents sum) via Spark 4's
    ``transformWithStateInPandas`` — the successor API to
    ``applyInPandasWithState`` (SPARK-49564: composable typed state
    variables, timers, TTL) and the designated home for custom
    stateful operators going forward; this engine exposes both so a
    user can migrate either direction.

    State is ONE ValueState holding ``(n, max, cents)``: count and
    integer cents are exact/associative (float accumulation would
    drift vs the batch oracle), max is order-independent by nature.
    The processor class is defined INSIDE this function and imports
    pandas inside its methods, so cloudpickle ships it by value and
    executors never import this package. Update mode: one row per
    (key, batch); the caller keeps the final row per key.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = (
        "user_id bigint, n_events bigint, max_value double, "
        "sum_value double"
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._s = handle.getValueState(
                "s", "n BIGINT, mx DOUBLE, cents BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            if self._s.exists():
                n, mx, cents = self._s.get()
            else:
                n, mx, cents = 0, None, 0
            for pdf in rows:
                n += len(pdf)
                m = float(pdf["value"].max())
                mx = m if mx is None else max(mx, m)
                # per-event half-up to exact cents, like CAST(x AS
                # DECIMAL(18,2)) in the batch aggregate
                cents += int(
                    (pdf["value"] * 100).round(0).astype("int64").sum()
                )
            self._s.update((n, mx, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "max_value": [mx],
                    "sum_value": [cents / 100.0],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStats(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def run_process_all(
    result: DataFrame, spark: SparkSession, output_mode: str = "complete"
) -> DataFrame:
    """Like :func:`run_available_now` but drains with
    ``processAllAvailable()`` under the default micro-batch trigger —
    required for Python streaming data sources, which do not support
    ``Trigger.AvailableNow`` (Spark falls back to ONE batch and stops
    early). ``processAllAvailable`` blocks until the source reports no
    new offsets, so a finite source is consumed exactly to its end."""
    name = f"stream_sink_{next(_sink_ids)}"
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


def cdc_state_update(
    prev: DataFrame | None,
    batch: DataFrame,
    keys,
    seq_col: str,
    op_col: str,
) -> DataFrame:
    """One micro-batch step of the streaming CDC twin: fold *batch*
    (a slice of the change feed, same schema as the state — keys +
    sequence + op + payload) into the running per-key winner state.

    The state is the COMPACTED CHANGELOG — per key, ``max(struct(seq,
    op, payload...))`` (``plans/merge.cdc_winners``, the same winner
    step ``apply_cdc`` runs). ``max`` is associative,
    commutative and idempotent, so ANY micro-batching of the feed —
    including duplicate deliveries repeated across batch boundaries —
    converges to the state of a single batch apply; that algebraic
    fact, not checkpoint bookkeeping, is what makes the sink safe
    under at-least-once redelivery.

    Scale: one key shuffle per micro-batch with map-side partial max;
    state stays key-cardinality-sized (tombstones included, so a
    late-redelivered stale upsert can never resurrect a deleted key).
    """
    ev = batch if prev is None else prev.unionByName(batch)
    return cdc_winners(ev, keys, seq_col, op_col)


def cdc_snapshot_from_state(
    state: DataFrame,
    baseline: DataFrame | None,
    keys,
    seq_col: str,
    op_col: str,
    delete_op: str = "delete",
) -> DataFrame:
    """Materialize the SCD-1 snapshot from the compacted changelog
    state: live winners project their payload; *baseline* rows (the
    pre-stream target) survive only where the feed never spoke —
    ``plans/merge.cdc_snapshot``, the kept ∪ upserts split
    ``apply_cdc`` ends with, so the streaming and batch paths converge
    to the same table."""
    if baseline is None:
        return state.filter(F.col(op_col) != F.lit(delete_op)).drop(
            seq_col, op_col
        )
    return cdc_snapshot(baseline, state, keys, op_col, delete_op)


def run_cdc_stream(
    changes_stream: DataFrame,
    state_path: str,
    keys,
    seq_col: str,
    op_col: str,
    checkpoint: str,
) -> None:
    """Wire :func:`cdc_state_update` into ``foreachBatch``: drain the
    (availableNow) change-feed stream, maintaining the compacted
    changelog at *state_path*. Each batch reads the prior state, folds
    the batch in, and REPLACES the state dir via write-to-temp +
    filesystem rename (the Hadoop FS API, so the swap is correct on
    any filesystem the session can reach — a direct overwrite of a
    path being read is not). DLT's APPLY CHANGES INTO runs this exact
    shape with the state in a Delta table; swap the rename for a MERGE
    on a Delta cluster."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        jvm = s._jvm
        hconf = s._jsc.hadoopConfiguration()
        jstate = jvm.org.apache.hadoop.fs.Path(state_path)
        fs = jstate.getFileSystem(hconf)
        prev = s.read.parquet(state_path) if fs.exists(jstate) else None
        new_state = cdc_state_update(prev, batch_df, keys, seq_col, op_col)
        tmp = f"{state_path}.tmp-{batch_id}"
        new_state.write.mode("overwrite").parquet(tmp)
        jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
        fs.delete(jstate, True)
        fs.rename(jtmp, jstate)

    q = (
        changes_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_cdc_scd2_stream(
    changes_stream: DataFrame, log_path: str, checkpoint: str
) -> None:
    """Streaming twin of ``plans/merge.apply_cdc_scd2``: drain an
    (availableNow) change-feed stream into an append-only DEDUPED
    event log at *log_path* — each batch anti-joins against the log
    on the FULL row (every column), so duplicate deliveries (within a
    batch, across batches, or on full replay) append nothing. The
    SCD-2 history is then ``apply_cdc_scd2(None, read(log_path), ...)``
    — see :func:`cdc_scd2_history`; because the log converges to the
    distinct event set regardless of micro-batching, the rebuilt
    intervals equal the one-shot batch apply.

    Full-row dedup, NOT ``(key, seq)`` dedup, deliberately, so the
    stream takes no key or sequence column: the batch apply resolves
    CONFLICTING events at the same ``(key, seq)`` by an op-blind
    total-order ``max`` over every event ever delivered. A key-level
    anti-join would keep whichever conflicting event ARRIVED first — a
    batch-slicing-dependent answer that
    diverges from the one-shot apply. Full-row dedup suppresses exact
    redeliveries (the at-least-once case the log exists for) while
    letting genuine conflicts append; the rebuild's own ``(key, seq)``
    dedup then picks the same winner as the one-shot apply, by the
    associativity of ``max`` over the event multiset.

    Unlike the SCD-1 state fold (:func:`run_cdc_stream`), the log is
    APPEND-ONLY — no read-modify-replace of a snapshot. The full-row
    comparison never scans the log as full rows: the batch's 64-bit
    null-safe row hashes (one ``xxhash64`` over isNull-flag/value
    pairs — the flags keep the encoding injective across NULL
    placements) broadcast into the log scan as a semi-join
    PRE-FILTER, so only hash-candidate log rows (≈ batch-sized, plus
    collision noise) survive to the decision join. The DECISION is
    exact: a null-safe equality anti-join over every column between
    the batch and the candidate rows — a hash collision costs one
    extra verified candidate, never a silently-dropped genuinely-new
    event (round-10 advisor: the previous 128-bit-composite-as-
    decision variant had a ~2^-64-per-pair silent-drop exposure, and
    its two words were not independent). At 100 TB the log would
    additionally be partitioned by ingest date and the pre-filter
    pruned to the batch's date range (or replaced by a Delta MERGE
    insert-if-absent on a real lakehouse)."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        jvm = s._jvm
        hconf = s._jsc.hadoopConfiguration()
        jlog = jvm.org.apache.hadoop.fs.Path(log_path)
        fs = jlog.getFileSystem(hconf)
        all_cols = batch_df.columns

        def rh(df: DataFrame) -> Column:
            # 64-bit null-safe row fingerprint — a PRE-FILTER only,
            # never the drop decision. xxhash64 SKIPS null inputs
            # (accumulator unchanged), so (1, NULL) and (NULL, 1) in
            # same-typed columns would collide — interleaving an
            # explicit isNull flag per column keeps the encoding
            # injective.
            cols: list[Column] = []
            for c in all_cols:
                cols.append(df[c].isNull())
                cols.append(df[c])
            return F.xxhash64(*cols)

        batch = batch_df.dropDuplicates(all_cols)
        if fs.exists(jlog):
            batch = batch.withColumn("_rh", rh(batch))
            log = s.read.parquet(log_path)
            # hash pre-filter: the batch's hash set broadcasts into
            # the log scan, so only candidate rows (≈ batch-sized)
            # carry payload out of the scan
            cand = (
                log.withColumn("_rh", rh(log))
                .join(F.broadcast(batch.select("_rh").distinct()), on="_rh")
                .alias("l")
            )
            # exact decision: null-safe equality on EVERY column — a
            # hash collision adds a candidate here, it cannot drop a
            # genuinely-new event
            b = batch.alias("b")
            cond = F.col("b._rh") == F.col("l._rh")
            for c in all_cols:
                cond = cond & F.col(f"b.`{c}`").eqNullSafe(
                    F.col(f"l.`{c}`")
                )
            batch = b.join(cand, on=cond, how="left_anti").drop("_rh")
        batch.write.mode("append").parquet(log_path)

    q = (
        changes_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def cdc_scd2_history(
    spark: SparkSession,
    log_path: str,
    keys,
    seq_col: str,
    op_col: str,
    delete_op: str = "delete",
    track_history_on=None,
) -> DataFrame:
    """Materialize the SCD-2 version history from the streamed event
    log (:func:`run_cdc_scd2_stream`) — the same
    ``plans/merge.apply_cdc_scd2`` rebuild the batch path uses, so the
    streaming and batch paths converge to identical intervals.

    Because the log retains EVERY distinct event, this rebuild is
    always a one-shot apply — which makes it exact even for the one
    case the incremental history rebuild cannot slice in:
    ``track_history_on`` with out-of-order first deliveries (see the
    contract note on ``apply_cdc_scd2``; DLT gets the same guarantee
    from events retained in pipeline state)."""
    return apply_cdc_scd2(
        None,
        spark.read.parquet(log_path),
        keys,
        seq_col=seq_col,
        op_col=op_col,
        delete_op=delete_op,
        track_history_on=track_history_on,
    )
