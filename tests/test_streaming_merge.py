"""foreachBatch + merge integration: the streaming micro-batch sink
maintains a gold table idempotently — replaying the same source files
must not duplicate rows (exactly-once via file-source tracking plus
insert-if-absent merge inside each batch)."""

from __future__ import annotations

import pytest
import shutil

from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.plans.merge import new_rows
from air_quality_etl_pipeline_spark.streaming.jobs import read_events_stream

SF = "/root/testdata/sf0.001"
OUT = "/tmp/spark_graft_stream_merge"


def test_foreachbatch_merge_is_idempotent(spark):
    shutil.rmtree(OUT, ignore_errors=True)
    shutil.rmtree(OUT + "_ckpt", ignore_errors=True)

    def upsert_batch(batch_df, batch_id):
        rows = batch_df.select("event_id", "user_id", "value")
        try:
            target = batch_df.sparkSession.read.parquet(OUT)
            fresh = new_rows(rows, target, ["event_id"])
        except Exception:  # first batch: no target yet
            fresh = rows
        fresh.write.mode("append").parquet(OUT)

    def run_once():
        q = (
            read_events_stream(spark, SF)
            .writeStream.foreachBatch(upsert_batch)
            .option("checkpointLocation", OUT + "_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert spark.read.parquet(OUT).count() == n_events

    # replay with a FRESH checkpoint (worst case: file tracking lost) —
    # the merge inside the batch still prevents duplicates
    shutil.rmtree(OUT + "_ckpt", ignore_errors=True)
    run_once()
    out = spark.read.parquet(OUT)
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events


def test_available_now_respects_max_files_per_trigger(spark, tmp_path):
    """availableNow + maxFilesPerTrigger: the backlog drains in BOUNDED
    micro-batches (rate-limited incremental processing), and the union
    of batches is exactly the source — the knob that keeps a huge
    backfill from becoming one giant batch at 100 TB."""
    src = str(tmp_path / "src")
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).toDF("v").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    seen_batches = []
    seen_rows = []

    def sink(batch_df, batch_id):
        rows = [r.v for r in batch_df.collect()]
        seen_batches.append(batch_id)
        seen_rows.extend(rows)

    q = (
        spark.readStream.schema("v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert len(seen_batches) >= 3  # one file per micro-batch
    assert sorted(seen_rows) == list(range(30))  # nothing lost or doubled


def test_drop_duplicates_within_watermark_matches_batch_distinct(spark, sf_dir):
    """dropDuplicatesWithinWatermark (Spark 3.5+): like the
    streaming_dedup query's dropDuplicates but state for a key is
    dropped once the watermark passes its FIRST occurrence — the right
    primitive when duplicates arrive close together (at-least-once
    sources) and keys are unbounded. On a bounded availableNow replay
    of the events table it must agree with batch DISTINCT on the key."""
    from pyspark.sql import functions as F

    from air_quality_etl_pipeline_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
    )

    stream = read_events_stream(spark, sf_dir)
    deduped = stream.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    got = run_available_now(
        deduped.select("event_id"), spark, output_mode="append"
    ).count()
    expect = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id")
        .distinct()
        .count()
    )
    assert got == expect


def _protobuf_available() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithStateInPandas needs google.protobuf "
    "(absent in this container — see SCALE.md environment blockers)",
)
def test_tws_user_stats_matches_batch(spark, tmp_path):
    """transformWithStateInPandas running stats must equal the batch
    groupBy exactly (count/max/decimal-cents sum)."""
    from pyspark.sql import functions as F

    from air_quality_etl_pipeline_spark.operators.cleaning import dedup_first
    from air_quality_etl_pipeline_spark.streaming.jobs import (
        run_available_now,
        tws_user_stats,
    )

    sf = "/root/testdata/sf0.001"
    batch = spark.read.parquet(f"{sf}/events.parquet")
    stream = spark.readStream.schema(batch.schema).parquet(sf)
    updates = run_available_now(
        tws_user_stats(stream), spark, output_mode="update"
    )
    got = sorted(
        tuple(r)
        for r in dedup_first(
            updates, ["user_id"], order_by=[F.col("n_events").desc()]
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in batch.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.max("value").alias("max_value"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .collect()
    )
    assert got == want


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    # exactly-once incremental file processing across RESTARTS: phase 1
    # drains file A under a checkpoint; phase 2 (a brand-new query on
    # the SAME checkpoint) must process ONLY the file added in between
    # — the checkpoint's file log, not the sink, is what prevents
    # reprocessing. This is the operational core of a production file
    # stream: the job restarts daily and must never double-count.
    src = str(tmp_path / "incoming")
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    base = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    a = base.filter(F.col("event_id") % 2 == 0)
    b = base.filter(F.col("event_id") % 2 == 1)
    a.write.parquet(src + "/a.parquet")

    def run_once():
        stream = spark.readStream.schema(base.schema).option(
            "recursiveFileLookup", "true"
        ).parquet(src)
        q = (
            stream.writeStream.foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_a = a.count()
    assert spark.read.parquet(out).count() == n_a

    b.write.parquet(src + "/b.parquet")
    run_once()
    sunk = spark.read.parquet(out)
    # phase 2 appended ONLY b's rows: totals match a+b with no dups
    assert sunk.count() == n_a + b.count()
    assert sunk.select("event_id").distinct().count() == base.count()


def test_stream_table_path_resolves_file_and_dir_shapes(spark, tmp_path):
    """Regression (round-8 advisor): streaming_dedup_incremental kept
    a bare pathGlobFilter='documents.parquet' after the events fix —
    a DIRECTORY-shaped documents.parquet (what stress_sf1 writes)
    matched nothing and the stream silently read zero rows. The check
    is now factored into stream_table_path, resolved via the Hadoop
    FileSystem API so it also answers for non-local filesystems."""
    from air_quality_etl_pipeline_spark.streaming.jobs import (
        stream_table_path,
    )

    sf = str(tmp_path)
    df = spark.range(5).select(F.col("id").alias("doc_id"))
    # dir-shaped: Spark-written table of part files
    df.write.parquet(f"{sf}/documents.parquet")
    base, glob = stream_table_path(spark, sf, "documents")
    assert base == f"{sf}/documents.parquet" and glob is None
    # file-shaped: the driver testdata layout (one bare file)
    import shutil as _sh

    df.coalesce(1).write.parquet(f"{sf}/_one")
    part = [
        p
        for p in __import__("os").listdir(f"{sf}/_one")
        if p.endswith(".parquet")
    ][0]
    _sh.copy(f"{sf}/_one/{part}", f"{sf}/events.parquet")
    _sh.rmtree(f"{sf}/_one")
    base, glob = stream_table_path(spark, sf, "events")
    assert base == sf and glob == "events.parquet"
    # both shapes actually stream the same rows end-to-end
    for table in ("documents", "events"):
        b, g = stream_table_path(spark, sf, table)
        reader = spark.readStream.schema(df.schema)
        if g is not None:
            reader = reader.option("pathGlobFilter", g)
        out = str(tmp_path / f"out_{table}")
        q = (
            reader.parquet(b)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ck_{table}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert spark.read.parquet(out).count() == 5


def test_streaming_cdc_replay_idempotent_across_batches(spark, tmp_path):
    """Streaming twin of apply_cdc (round-8 verdict #4): a change feed
    drained through foreachBatch in >=3 micro-batches — WITH duplicate
    deliveries spanning batch boundaries and a stale redelivery of an
    already-superseded change in the final batch — must converge to
    exactly the batch apply_cdc snapshot, and a full re-run of the
    stream under a FRESH checkpoint (worst-case redelivery of
    everything) must change nothing."""
    from air_quality_etl_pipeline_spark.plans.merge import apply_cdc
    from air_quality_etl_pipeline_spark.streaming.jobs import (
        cdc_snapshot_from_state,
        run_cdc_stream,
    )

    schema = "k long, seq long, op string, v string"
    baseline = spark.createDataFrame(
        [(1, "base1"), (2, "base2"), (3, "base3")], "k long, v string"
    )
    feed_rows = [
        (1, 1, "upsert", "A1"),
        (1, 2, "delete", None),    # latest for key 1: delete
        (2, 5, "upsert", "B5"),
        (4, 1, "upsert", "D1"),    # unseen key: insert
        (5, 3, "upsert", "E3"),
        (5, 4, "delete", None),    # delete of streamed-in key
    ]
    batches = [
        feed_rows[0:3],                    # batch 1
        feed_rows[2:5],                    # batch 2 (dup of row 2)
        feed_rows[4:6] + [feed_rows[0]],   # batch 3 (stale redelivery
    ]                                      #  of key 1's superseded A1)
    src = str(tmp_path / "feed")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{src}/b{i}.parquet")

    state = str(tmp_path / "state")

    def drain(ckpt: str) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        run_cdc_stream(stream, state, ["k"], "seq", "op", checkpoint=ckpt)

    drain(str(tmp_path / "ckpt1"))
    got = cdc_snapshot_from_state(
        spark.read.parquet(state), baseline, ["k"], "seq", "op"
    )
    want = apply_cdc(
        baseline,
        spark.createDataFrame(feed_rows, schema),
        ["k"],
        seq_col="seq",
        op_col="op",
    )
    want_rows = sorted((r["k"], r["v"]) for r in want.select("k", "v").collect())
    got_rows = sorted((r["k"], r["v"]) for r in got.select("k", "v").collect())
    assert got_rows == want_rows == [
        (2, "B5"),
        (3, "base3"),
        (4, "D1"),
    ]
    # worst case: the ENTIRE feed redelivered (fresh checkpoint) — the
    # state fold is algebraically idempotent, snapshot unchanged
    drain(str(tmp_path / "ckpt2"))
    again = cdc_snapshot_from_state(
        spark.read.parquet(state), baseline, ["k"], "seq", "op"
    )
    assert sorted(
        (r["k"], r["v"]) for r in again.select("k", "v").collect()
    ) == want_rows


def test_streaming_scd2_log_converges_to_batch_history(spark, tmp_path):
    """SCD-2 streaming twin: the deduped append-only event log drained
    in >=3 micro-batches (duplicates spanning batches, stale
    redeliveries) rebuilds EXACTLY the intervals of the one-shot batch
    apply_cdc_scd2, and a full replay under a fresh checkpoint appends
    nothing."""
    from air_quality_etl_pipeline_spark.plans.merge import apply_cdc_scd2
    from air_quality_etl_pipeline_spark.streaming.jobs import (
        cdc_scd2_history,
        run_cdc_scd2_stream,
    )

    schema = "k long, seq long, op string, v string"
    feed_rows = [
        (1, 1, "upsert", "a1"),
        (1, 4, "upsert", "a4"),
        (1, 6, "delete", None),
        (2, 2, "upsert", "b2"),
        (2, 8, "upsert", "b8"),   # re-insert after nothing: stays open
        (3, 5, "upsert", "c5"),
    ]
    batches = [
        feed_rows[0:2],
        feed_rows[1:4],                   # dup of (1,4) across batches
        feed_rows[3:6] + [feed_rows[0]],  # stale redelivery of (1,1)
    ]
    src = str(tmp_path / "feed")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{src}/b{i}.parquet")
    log = str(tmp_path / "log")

    def drain(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        run_cdc_scd2_stream(stream, log, checkpoint=ckpt)

    drain(str(tmp_path / "ck1"))
    assert spark.read.parquet(log).count() == len(feed_rows)  # deduped

    def rows_of(df):
        return sorted(
            (r["k"], r["v"], r["__START_AT"], r["__END_AT"])
            for r in df.collect()
        )

    got = rows_of(cdc_scd2_history(spark, log, ["k"], "seq", "op"))
    want = rows_of(
        apply_cdc_scd2(
            None,
            spark.createDataFrame(feed_rows, schema),
            ["k"],
            seq_col="seq",
            op_col="op",
        )
    )
    assert got == want == [
        (1, "a1", 1, 4),
        (1, "a4", 4, 6),
        (2, "b2", 2, 8),
        (2, "b8", 8, None),
        (3, "c5", 5, None),
    ]
    # full replay, fresh checkpoint: nothing appends, history unchanged
    drain(str(tmp_path / "ck2"))
    assert spark.read.parquet(log).count() == len(feed_rows)
    assert rows_of(cdc_scd2_history(spark, log, ["k"], "seq", "op")) == want


def test_streaming_scd2_track_history_out_of_order(spark, tmp_path):
    """TRACK HISTORY ON + an out-of-order FIRST delivery (a tracked
    change at seq 2 arriving after seq 4 was already absorbed): the
    event-log path stays exact — its rebuild is a one-shot apply over
    every retained event — while the incremental history rebuild
    demonstrably cannot slice the late event in (the absorbed event's
    (seq, untracked) provenance is gone), which is exactly the
    documented contract on apply_cdc_scd2 and why the log exists (DLT:
    events retained in pipeline state)."""
    from air_quality_etl_pipeline_spark.plans.merge import apply_cdc_scd2
    from air_quality_etl_pipeline_spark.streaming.jobs import (
        cdc_scd2_history,
        run_cdc_scd2_stream,
    )

    schema = "k long, seq long, op string, city string, phone string"
    b1 = [(1, 1, "upsert", "ams", "p1"), (1, 4, "upsert", "ams", "p4")]
    b2 = [(1, 2, "upsert", "rtm", "p2")]  # late tracked change, seq 2 < 4
    src = str(tmp_path / "feed")
    for i, rows in enumerate([b1, b2]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{src}/b{i}.parquet")
    log = str(tmp_path / "log")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    run_cdc_scd2_stream(stream, log, str(tmp_path / "ck"))

    def rows_of(df):
        return sorted(
            (r["k"], r["city"], r["phone"], r["__START_AT"], r["__END_AT"])
            for r in df.collect()
        )

    kw = dict(seq_col="seq", op_col="op", track_history_on=["city"])
    one_shot = rows_of(
        apply_cdc_scd2(None, spark.createDataFrame(b1 + b2, schema), ["k"], **kw)
    )
    assert one_shot == [
        (1, "ams", "p1", 1, 2),
        (1, "ams", "p4", 4, None),
        (1, "rtm", "p2", 2, 4),
    ]
    # the log path is exact
    got = rows_of(
        cdc_scd2_history(spark, log, ["k"], "seq", "op",
                         track_history_on=["city"])
    )
    assert got == one_shot
    # the incremental rebuild is NOT (documented): seq 4 was absorbed
    # into [1, None) before the late seq-2 arrival, so its version and
    # p1 are unrecoverable from the history alone
    h1 = apply_cdc_scd2(
        None, spark.createDataFrame(b1, schema), ["k"], **kw
    ).localCheckpoint(eager=True)
    incr = rows_of(
        apply_cdc_scd2(h1, spark.createDataFrame(b2, schema), ["k"], **kw)
    )
    assert incr != one_shot
    assert incr == [(1, "ams", "p4", 1, 2), (1, "rtm", "p2", 2, None)]


def test_streaming_scd2_conflicting_same_seq_across_batches(spark, tmp_path):
    """Two DIFFERENT events at the same (key, seq) arriving in
    different micro-batches: a (key, seq)-level log dedup would keep
    whichever arrived FIRST — a batch-slicing-dependent answer — while
    the one-shot batch apply resolves the cell by the op-blind
    total-order max. The full-row log keeps both events and the
    rebuild picks the same winner as the one-shot apply; replay still
    appends nothing."""
    from air_quality_etl_pipeline_spark.plans.merge import apply_cdc_scd2
    from air_quality_etl_pipeline_spark.streaming.jobs import (
        cdc_scd2_history,
        run_cdc_scd2_stream,
    )

    schema = "k long, seq long, op string, v string"
    first = (4, 7, "upsert", "zA")   # arrives first...
    winner = (4, 7, "upsert", "zB")  # ...but loses the total order
    batches = [[first], [winner, first]]  # + stale redelivery of zA
    src = str(tmp_path / "feed")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{src}/b{i}.parquet")
    log = str(tmp_path / "log")

    def drain(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        run_cdc_scd2_stream(stream, log, checkpoint=ckpt)

    drain(str(tmp_path / "ck1"))
    assert spark.read.parquet(log).count() == 2  # both conflict rows

    def rows_of(df):
        return sorted(
            (r["k"], r["v"], r["__START_AT"], r["__END_AT"])
            for r in df.collect()
        )

    got = rows_of(cdc_scd2_history(spark, log, ["k"], "seq", "op"))
    want = rows_of(
        apply_cdc_scd2(
            None,
            spark.createDataFrame([first, winner], schema),
            ["k"],
            seq_col="seq",
            op_col="op",
        )
    )
    assert got == want == [(4, "zB", 7, None)]
    drain(str(tmp_path / "ck2"))  # full replay: nothing appends
    assert spark.read.parquet(log).count() == 2
    assert rows_of(cdc_scd2_history(spark, log, ["k"], "seq", "op")) == want
