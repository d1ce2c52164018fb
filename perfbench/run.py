#!/usr/bin/env python3
"""The engine's benchmark: one workload per invocation, measured end to
end, with its outputs checked against independent oracles.

    python3 perfbench/run.py --workload corpus_heavy --seed 1 --seconds 10 --trace 0

One process runs the workload on ``local[<cores>]`` as a closed loop
with one client: each operation starts after the previous one ends.

* ``corpus_heavy``: registered corpus queries over the sf0.01 test
  tables copied under ``perfbench/data``. The seed shuffles the query
  order. One cold pass (first ``workload.prepared`` build +
  first noop-sink execution of each query) is followed by warm passes
  re-executing the prepared plans until ``--seconds`` have passed, with
  at least :data:`MIN_WARM_PASSES` passes.
* ``medallion_etl``: a seeded bronze AQS feed (``inputs.py``) landed in
  weekly batches through the bronze → silver → gold → warehouse DAG
  (``etl.py``) until ``--seconds`` have passed, with at least
  :data:`MIN_ETL_BATCHES` batches; after every :data:`ETL_WEEKS`
  batches the lake starts over.

Set-up (session start, warm-up, inputs) runs :data:`SETUP_ROUNDS`
times, restarting the session in between; ``setup_s`` is the median.
After the timed loop, queries are compared with their DuckDB oracles
(``duck_con``/``rows_canon`` from ``tests/test_oracle_parity.py``), and
the warehouse with a DuckDB twin of the DAG.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the ``end_to_end`` metrics of
``BENCHMARK.json``, or with ``--trace 1`` its ``per_layer`` metrics,
which a traced run reads through :class:`tracing.Tracer` and also writes,
with its spans, to ``.perfbench_out/trace-<workload>-seed<n>.json``.
The line before it is a ``summary:`` with ``failed_frac`` and the
workload's own figures.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(REPO, ".perfbench_out")
SF_DIR = os.path.join(HERE, "data", "sf0.01")

#: execution-heavy corpus operators: builder-time jobs and persists
#: paid on every call (dedup_clusters), Python workers
#: (image_decode_channel_stats), shuffle, and semantic_dedup's plan
#: flip, which shows in its per-sample job counts
CORPUS_HEAVY = [
    "dedup_clusters", "semantic_dedup", "dedup_minhash_lsh",
    "image_decode_channel_stats",
]
QUERY_WORKLOADS = {"corpus_heavy": CORPUS_HEAVY}

SETUP_ROUNDS = 3
MIN_WARM_PASSES = 3
ETL_WEEKS, ETL_ROWS_PER_WEEK, ETL_SITES = 4, 10_000, 200
MIN_ETL_BATCHES = 4

#: kept out of the repo tree and out of /tmp: everything a run writes
SPARK_CONF = {
    "spark.sql.warehouse.dir": f"{OUT}/warehouse",
    "spark.driver.extraJavaOptions": (
        f"-Djava.io.tmpdir={OUT}/tmp -Dderby.system.home={OUT}/derby -XX:-UsePerfData"
    ),
    "spark.ui.showConsoleProgress": "false",
}


def _environment() -> None:
    """Process settings read when the engine starts: cores, a heap that
    fits a shared 4-core host, and fresh scratch directories in the
    checkout (traces of earlier runs stay)."""
    for d in ("tmp", "spark-local", "lake", "warehouse", "warm-up"):
        shutil.rmtree(f"{OUT}/{d}", ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(f"{OUT}/{d}")
    os.environ["TMPDIR"] = f"{OUT}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{OUT}/spark-local"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - _T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def _cpu_ticks() -> tuple[int, int]:
    """Busy and stolen clock ticks summed over this host's CPUs (the
    ``steal`` column of ``/proc/stat`` is time the hypervisor withheld a
    CPU that had work)."""
    with open("/proc/stat") as f:
        user, nice, system, _, _, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def _timed(fn):
    """Run *fn*; its result and its duration on the CPU time this host
    was given: wall time scaled by busy ÷ (busy + stolen) ticks over the
    call. On a dedicated host nothing is stolen and this is wall time;
    on a shared virtual host it takes out the hypervisor's share, which
    otherwise moves every timing with the neighbours' load."""
    busy0, stolen0 = _cpu_ticks()
    t = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t
    busy1, stolen1 = _cpu_ticks()
    busy, stolen = busy1 - busy0, stolen1 - stolen0
    return out, wall * busy / (busy + stolen) if busy + stolen else wall


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warm_up(spark) -> None:
    """JVM and codegen warm-up shared by every workload: a join and
    aggregate, a tokenize-explode-count with a global window, and a
    parquet write over the committed tables. Without the JIT work this
    pre-pays, whichever operation the seed puts first pays it and the
    cold total moves with the order: over five seeds on a shared 4-core
    VM its quartile spread was 16% of the median with the join alone,
    5% with this warm-up."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    _noop(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.sum("l_extendedprice"))
    )
    words = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .groupBy("w")
        .count()
        .withColumn("rank", F.row_number().over(Window.orderBy(F.desc("count"), "w")))
    )
    words.write.mode("overwrite").parquet(f"{OUT}/warm-up")


def _inputs(workload: str, seed: int):
    if workload in QUERY_WORKLOADS:
        order = list(QUERY_WORKLOADS[workload])
        random.Random(seed).shuffle(order)
        return order
    from inputs import write_aqs_batches

    return write_aqs_batches(f"{OUT}/aqs", seed, ETL_WEEKS, ETL_ROWS_PER_WEEK, ETL_SITES)


def setup(workload: str, seed: int, tracer):
    """Start the session, warm it up and make the inputs,
    :data:`SETUP_ROUNDS` times; returns the last session and inputs and
    the median round time."""
    from air_quality_etl_pipeline_spark.session import get_spark

    spark, rounds = None, []
    for _ in range(SETUP_ROUNDS):
        with tracer.span("setup"):
            if spark is not None:
                spark.stop()
            spark, start = _timed(
                lambda: get_spark(app_name="perfbench", extra_conf=SPARK_CONF)
            )
            spark.sparkContext.setLogLevel("ERROR")
            _, warm_up = _timed(lambda: _warm_up(spark))
            inputs, make_inputs = _timed(lambda: _inputs(workload, seed))
        rounds.append(start + warm_up + make_inputs)
        tracer.record("session.start_s", "setup", start)
        tracer.record("session.warmup_s", "setup", warm_up)
    tracer.bind(spark)
    return spark, inputs, statistics.median(rounds)


class Tally:
    """Operations attempted and failed, with the reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, label: str, fn):
        """Run *fn* as one operation; its result, or None if it raised."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - counted and reported
            self.fail(f"{label}: {traceback.format_exc(limit=3)}")
            return None

    def fail(self, reason: str) -> None:
        self.failed += 1
        self.errors.append(reason)


def run_queries(spark, order: list[str], seconds: float, tracer, tally: Tally) -> dict:
    from air_quality_etl_pipeline_spark.workload import prepared

    cold: dict[str, float] = {}
    built: dict = {}
    warm: dict[str, list[float]] = {n: [] for n in order}
    t_end = time.perf_counter() + seconds
    for n in order:
        def first_run(n=n):
            with tracer.span(f"cold:{n}"):
                with tracer.span(f"build:{n}", spark_deltas=True) as attrs:
                    df, build = _timed(lambda: prepared(spark, SF_DIR, n))
                tracer.record("build_s", n, build)
                tracer.record("build_jobs", n, attrs.get("exec.jobs", 0))
                tracer.catalyst(df, n)
                with tracer.span(f"exec:{n}", spark_deltas=True):
                    _, run = _timed(lambda: _noop(df))
            built[n] = df
            return build + run

        cold[n] = tally.run(f"cold {n}", first_run)
    passes = 0
    while passes < MIN_WARM_PASSES or time.perf_counter() < t_end:
        for n in order:
            def rerun(n=n):
                with tracer.span(f"warm:{n}", op=n, spark_deltas=True):
                    return _timed(lambda: _noop(prepared(spark, SF_DIR, n)))[1]

            dt = tally.run(f"warm {n}", rerun)
            if dt is not None:
                warm[n].append(dt)
        passes += 1
    if any(v is None for v in cold.values()) or not all(warm.values()):
        return {}
    return {
        "cold_total_s": sum(cold.values()),
        "warm_total_s": sum(statistics.median(v) for v in warm.values()),
        "warm_passes": passes,
        "cold_s": cold,
        "warm_median_s": {n: statistics.median(v) for n, v in warm.items()},
        "_built": built,
    }


def check_queries(built: dict, tally: Tally) -> None:
    """Hash-compare the DataFrame each query built in the cold pass
    with its DuckDB oracle, outside the timed loop. (Collecting the
    built DataFrame, not a fresh ``prepared`` one, spares the queries
    that rebuild per call a second build.)"""
    from air_quality_etl_pipeline_spark.workload import QUERIES
    from test_oracle_parity import duck_con, rows_canon

    con = duck_con(SF_DIR)
    try:
        for n, sdf in built.items():
            def compare(n=n, sdf=sdf):
                s_cols = sdf.columns
                s_rows = [tuple(r) for r in sdf.collect()]
                cur = con.execute(QUERIES[n][1])
                d_cols = [d[0] for d in cur.description]
                return sorted(s_cols) == sorted(d_cols) and rows_canon(
                    s_cols, s_rows
                ) == rows_canon(d_cols, cur.fetchall())

            if tally.run(f"oracle {n}", compare) is False:
                tally.fail(f"oracle {n}: rows differ from the DuckDB oracle")
    finally:
        con.close()


def run_etl(spark, inputs, seconds: float, tracer, tally: Tally) -> dict:
    import pyarrow.parquet as pq

    import etl
    from air_quality_etl_pipeline_spark.plans.pipeline import run_pipeline

    paths, _ = inputs
    batches: list[float] = []
    t_end = time.perf_counter() + seconds
    week = 0
    while len(batches) < MIN_ETL_BATCHES or time.perf_counter() < t_end:
        w = week % ETL_WEEKS
        if w == 0:
            lake = etl.Lake(spark, f"{OUT}/lake")
            ctx = {"_fact_rows": 0}
            loaded: list[str] = []
        if tracer.enabled:
            t = time.perf_counter()
            files_before = etl.parquet_bytes(lake.root)[1]
            tracer.add_overhead(time.perf_counter() - t)
        with tracer.span(f"batch:{week}", op="batch", spark_deltas=True):
            run, dt = _timed(lambda: run_pipeline(etl.activities(lake, w, paths[w]), ctx))
        tally.attempted += 1
        if not run.succeeded:
            tally.fail(f"batch {week}: " + "; ".join(
                f"{k}: {r.status} {r.error}" for k, r in run.results.items() if r.error
            ))
            return {}
        batches.append(dt)
        loaded.append(paths[w])
        if tracer.enabled:
            t = time.perf_counter()
            for act, res in run.results.items():
                tracer.record(f"etl.{act}_s", "batch", res.seconds)
            tracer.record("etl.rows_in", "batch", pq.ParquetFile(paths[w]).metadata.num_rows)
            tracer.record("etl.silver_rows", "batch", ctx["silver"]["measurement"])
            wh = ctx["warehouse"]
            tracer.record("etl.insert_ratio", "batch", wh["inserted"] / wh["offered"])
            files_after = etl.parquet_bytes(lake.root)[1]
            new = [p for p in files_after if p not in files_before]
            tracer.record("write.files", "batch", len(new))
            tracer.record("write.mb", "batch", sum(files_after[p] for p in new) / 2**20)
            tracer.add_overhead(time.perf_counter() - t)
        week += 1
    stored = etl.parquet_bytes(lake.root)[0]
    bronze = sum(os.path.getsize(p) for p in loaded)
    tracer.record("etl.stored_bytes_per_input_byte", "run", stored / bronze)
    return {
        "cold_total_s": batches[0],
        "warm_total_s": statistics.median(batches[1:]),
        "etl_batch_s": statistics.median(batches[1:]),
        "batch_s": batches,
        "stored_bytes_per_input_byte": stored / bronze,
        "batches": len(batches),
        "_loaded": loaded,
        "_fact": lake.current["fact"],
    }


def check_etl(spark, inputs, figures: dict, tally: Tally) -> None:
    """The bronze feed has the declared schema and every pinned edge
    case, and the warehouse fact agrees with the DuckDB twin."""
    import etl
    from air_quality_etl_pipeline_spark.schemas import AQS_DAILY

    paths, _ = inputs

    def schema_matches():
        got = [(f.name, f.dataType) for f in spark.read.parquet(paths[0]).schema]
        return got == [(f.name, f.dataType) for f in AQS_DAILY]

    if tally.run("bronze schema", schema_matches) is False:
        tally.fail("bronze schema differs from schemas.AQS_DAILY")
    missing = tally.run("bronze edge cases", lambda: etl.bronze_check(paths))
    if missing:
        tally.fail(f"bronze edge cases missing: {missing}")
    if "_fact" in figures:
        bad = tally.run(
            "warehouse twin", lambda: etl.twin_check(figures["_loaded"], figures["_fact"])
        )
        if bad:
            tally.fail(f"warehouse twin: {bad}")


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args(argv)

    _environment()
    # the test directory joins the path the way pytest puts it there,
    # so the oracle helpers import as test_oracle_parity
    sys.path[:0] = [REPO, HERE, os.path.join(REPO, "tests")]
    import air_quality_etl_pipeline_spark  # noqa: F401 - fail before any output
    from tracing import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    tally = Tally()
    _log("engine imported")
    spark, inputs, setup_s = setup(args.workload, args.seed, tracer)
    _log("set up")
    try:
        ticks_before = _cpu_ticks()
        if args.workload in QUERY_WORKLOADS:
            figures = run_queries(spark, inputs, args.seconds, tracer, tally)
        else:
            figures = run_etl(spark, inputs, args.seconds, tracer, tally)
        ticks_after = _cpu_ticks()
        _log("measured")
        if args.workload in QUERY_WORKLOADS:
            check_queries(figures.get("_built", {}), tally)
        else:
            check_etl(spark, inputs, figures, tally)
        _log("checked")
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = _vm_hwm_mb(pid) + _vm_hwm_mb("self")
    finally:
        _shutdown(spark)
        _log("stopped")

    for e in tally.errors:
        print(e, file=sys.stderr)
    if not figures:
        print("no figures: an operation failed", file=sys.stderr)
        return 1
    end_to_end = {
        "setup_s": setup_s,
        "cold_total_s": figures["cold_total_s"],
        "warm_total_s": figures["warm_total_s"],
        "peak_rss_mb": peak_rss_mb,
    }
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "failed_frac": tally.failed / tally.attempted,
        # share of all CPU ticks the hypervisor took while the workload
        # was measured; the timings are corrected for it
        "steal_frac": (ticks_after[1] - ticks_before[1])
        / max(1, sum(ticks_after) - sum(ticks_before)),
        **end_to_end,
        **{k: v for k, v in figures.items() if not k.startswith("_")},
    }
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        values = tracer.per_layer(names)
        wall = tracer.per_layer(["exec.wall_s"])["exec.wall_s"]
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        values["exec.core_util"] = values["exec.task_s"] / (wall * cores) if wall else 0.0
        values["trace.overhead_s"] = tracer.overhead_s
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        tracer.dump(
            f"{OUT}/trace-{args.workload}-seed{args.seed}.json",
            {"summary": summary, "per_layer": values},
        )
    else:
        values = end_to_end
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    print("summary: " + json.dumps(summary))
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
