"""Profile registered queries layer by layer with the benchmark's own
tracer (``perfbench/tracing.py``).

    python scripts/profile.py [name ...] --sf DIR --samples N --out FILE

No names = ``bench.HEADLINE``. One session on
``local[$SPARK_GRAFT_CPUS]`` is warmed up through ``bench.warm_up``;
then each query is sampled *N* times, and each sample

1. clears the CacheManager (``spark.catalog.clearCache()``), so no
   sample re-matches an entry an earlier build left behind;
2. builds the query through ``QUERIES[name][0]`` in a traced span
   (``build_s``, and ``build_jobs``: the Spark jobs the builder ran)
   and counts the CacheManager entries the build left behind
   (``cache_entries``; a lazy ``persist`` registers its entry when it is
   called, and later builds of the same plan would re-match it);
3. forces the physical plan (``Tracer.catalyst``: Catalyst phase times
   and ``plan.*`` node counts);
4. runs the frame to the ``noop`` sink in a traced span (cold:
   ``cold_s`` and ``cold.exec.*``);
5. runs the same frame again in a traced span (warm: the ``exec.*`` and
   ``python.*`` layers, ``exec.wall_s``).

The JSON written to *FILE* holds, per query, the median over samples of
every layer under ``BENCHMARK.json``'s ``per_layer`` names and of the
cold ones, the final (post-AQE) plan of the first sample as the SQL
status store formatted it, that plan's node counts, and the distinct
plan digests over samples (the final plan with ``#123``-style ids
stripped): more than one digest means the query did not plan the same
way every time. ``per_layer`` at the top sums the per-query medians the
way ``perfbench/run.py --trace 1`` does, and ``cache_entries`` at the
top sums the per-query ``cache_entries`` medians. A query's first build in the
session can also run a job for each table it is the first to read; the
median over three or more samples leaves those out, and with
``--samples 1`` ``build_jobs`` and ``plan.*`` equal those of a traced
perfbench cold pass over the same queries. (perfbench's warm pass goes
through ``workload.prepared``, which rebuilds every query whose build
ran jobs, so its ``exec.*`` also hold those builder jobs; here warm
re-runs the built frame.)
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# run as a script, sys.path starts with this directory, where this file
# would shadow the standard library module pyspark imports
sys.path[:1] = [REPO, os.path.join(REPO, "perfbench")]

import bench  # noqa: E402
from tracing import Tracer, count_plan_nodes  # noqa: E402

#: per-run numbers a formatted plan carries that say nothing about its
#: shape: expression/subquery ids, exchange plan ids, RDD ids, codegen
#: stage ids and the numbered names of higher-order-function lambda
#: variables; and the ids of AQE query stages, which follow the order
#: in which concurrently submitted stages were created
_IDS = re.compile(r"#\d+|plan_id=\d+|RDD\[\d+\]|codegen id : \d+|(?<=lambda )(\w+)_\d+\b")
_STAGE_ID = re.compile(r"(QueryStage\n(?:.+\n)*?Arguments: )\d+")


def plan_digest(plan: str) -> str:
    shape = _IDS.sub(r"\1", _STAGE_ID.sub(r"\1", plan))
    return hashlib.sha1(shape.encode()).hexdigest()[:12]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _final_plan(spark) -> str:
    """The formatted plan of the newest SQL execution; AQE rewrites the
    stored description as its stages finish, so after the run it is the
    final plan."""
    store = spark._jsparkSession.sharedState().statusStore()
    return store.executionsList(store.executionsCount() - 1, 1).apply(0).physicalPlanDescription()


def profile_query(spark, tracer: Tracer, sf_dir: str, name: str, samples: int) -> dict:
    from air_quality_etl_pipeline_spark.workload import QUERIES

    cache = spark._jsparkSession.sharedState().cacheManager()
    plans = []
    for _ in range(samples):
        spark.catalog.clearCache()
        with tracer.span(f"build:{name}", spark_deltas=True) as attrs:
            t = time.perf_counter()
            df = QUERIES[name][0](spark, sf_dir)
            tracer.record("build_s", name, time.perf_counter() - t)
        tracer.record("build_jobs", name, attrs.get("exec.jobs", 0))
        tracer.record("cache_entries", name, cache.numCachedEntries())
        tracer.catalyst(df, name)
        with tracer.span(f"cold:{name}", spark_deltas=True) as cold:
            t = time.perf_counter()
            _noop(df)
            tracer.record("cold_s", name, time.perf_counter() - t)
        for k, v in cold.items():
            tracer.record(f"cold.{k}", name, v)
        plans.append(_final_plan(spark))
        with tracer.span(f"warm:{name}", op=name, spark_deltas=True):
            _noop(df)
    return {
        "per_layer": {
            metric: statistics.median(ops[name])
            for metric, ops in tracer.samples.items()
            if name in ops
        },
        "final_plan": plans[0],
        "final_plan_nodes": count_plan_nodes(plans[0]),
        "plan_digests": sorted({plan_digest(p) for p in plans}),
    }


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("names", nargs="*", help="registered queries (default: bench.HEADLINE)")
    parser.add_argument("--sf", required=True, help="scale-factor directory of the input tables")
    parser.add_argument("--samples", type=int, default=3, help="samples per query (default 3)")
    parser.add_argument("--out", required=True, help="JSON file to write")
    args = parser.parse_args(argv)

    from air_quality_etl_pipeline_spark.session import get_spark
    from air_quality_etl_pipeline_spark.workload import QUERIES

    names = args.names or list(bench.HEADLINE)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        parser.error(f"unknown queries: {unknown}")
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        layer_names = [m["name"] for m in json.load(f)["per_layer"]]

    tracer = Tracer(enabled=True)
    t = time.perf_counter()
    spark = get_spark(app_name="profile", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    tracer.record("session.start_s", "session", time.perf_counter() - t)
    t = time.perf_counter()
    bench.warm_up(spark, names)
    tracer.record("session.warmup_s", "session", time.perf_counter() - t)
    tracer.bind(spark)

    queries = {}
    for name in names:
        queries[name] = profile_query(spark, tracer, args.sf, name, args.samples)
        q = queries[name]["per_layer"]
        print(
            f"{name}: build {q['build_s']:.2f}s ({q['build_jobs']:g} jobs) cold {q['cold_s']:.2f}s "
            f"warm {q['exec.wall_s']:.2f}s, {len(queries[name]['plan_digests'])} plan digest(s)",
            file=sys.stderr,
            flush=True,
        )
    cores = spark.sparkContext.defaultParallelism
    spark.stop()

    recorded = [n for n in layer_names if n in tracer.samples or n in tracer.peaks]
    totals = tracer.per_layer(recorded)
    wall = tracer.per_layer(["exec.wall_s"])["exec.wall_s"]
    totals["exec.core_util"] = totals["exec.task_s"] / (wall * cores)
    totals["trace.overhead_s"] = tracer.overhead_s
    out = {
        "sf": args.sf,
        "samples": args.samples,
        "cores": cores,
        "per_layer": totals,
        "cache_entries": tracer.per_layer(["cache_entries"])["cache_entries"],
        "queries": queries,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
