"""Round-8 (verdict #4): re-measure the FULL headline suite against
DuckDB in one sitting — the recorded 0.31 ratio predates the round-7/8
queries. Runs the Spark headline exactly as bench.py does (prepared
plans, best-of-3, window-logger hygiene), then DuckDB best-of-3 on the
same oracle SQL over the same sf0.1 parquet, in the same process run
(Spark stopped before DuckDB starts so neither side is perturbed).
Round 10: the Spark action is the noop sink (bench.py change) —
DuckDB's fetchall always materialized every output column, while
Spark's count() let Catalyst prune projection-terminal outputs, so
pre-r10 ratios were tilted IN SPARK'S FAVOR on those queries.

The Spark side reuses ``bench.py``'s warm-up and ``time_query``; the
DuckDB side reads the tables through ``oracle.duck_con``, so a
Spark-written sf dir (``scripts/stress_sf1.py``) works too.

Prints one JSON line: both totals, the ratio, and per-query seconds.

Usage: python scripts/bench_vs_duckdb.py  (solo box)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bench import HEADLINE, time_query, warm_up

    from air_quality_etl_pipeline_spark.oracle import duck_con
    from air_quality_etl_pipeline_spark.session import get_spark
    from air_quality_etl_pipeline_spark.workload import QUERIES

    spark = get_spark(app_name="bench-vs-duckdb")
    warm_up(spark, HEADLINE)
    spark_t = {name: time_query(spark, sf_dir, name)[0] for name in HEADLINE}
    spark.stop()

    con = duck_con(sf_dir)
    con.execute(f"SET threads TO {os.cpu_count()}")
    duck_t: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(QUERIES[name][1]).fetchall()
            best = min(best, time.perf_counter() - t0)
        duck_t[name] = round(best, 3)

    s_total = round(sum(spark_t.values()), 2)
    d_total = round(sum(duck_t.values()), 2)
    print(
        json.dumps(
            {
                "spark_total_sec": s_total,
                "duckdb_total_sec": d_total,
                "ratio_spark_over_duckdb": round(s_total / d_total, 3),
                "n_queries": len(spark_t),
                "spark": spark_t,
                "duckdb": duck_t,
            }
        )
    )


if __name__ == "__main__":
    main()
