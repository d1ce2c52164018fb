"""Verify registered queries against their DuckDB oracles through
``__spark_entry__``: ``entry`` as a smoke check, then each
``queries()[name]`` (which applies ``tune_session``) compared with
``oracle_sql()[name]`` by ``air_quality_etl_pipeline_spark.oracle``,
the same column-name, type, row-count and row-set checks Tier-1's
``tests/test_oracle_parity.py`` applies.

    python scripts/verify_subset.py [name ...] [--sf=DIR] [--workers=N]

No names = the whole registry. ``--sf=DIR`` (or env
``SPARK_GRAFT_VERIFY_SF``) retargets the scale factor; default sf0.01.
A Spark-written sf dir (tables as directories of part files, the layout
``scripts/stress_sf1.py`` writes) works too. Run it from any working
directory; the session has the default conf, so ``queries()`` must
tune it.

``--workers=N`` (default 8) shards the DuckDB oracle side across a
process pool: the Spark side shares one session in the main process
while every oracle runs concurrently in its worker's connection.
``--workers=0`` runs the oracles serially in-process.

Prints one ``OK``/``FAIL`` line per query, then ``RESULT: ALL MATCH``
(exit 0) or ``RESULT: MISMATCH: [...]`` (exit 1).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from air_quality_etl_pipeline_spark import oracle  # noqa: E402

_WORKER_CON = None


def _init_worker(sf: str) -> None:
    global _WORKER_CON
    _WORKER_CON = oracle.duck_con(sf)


def _run_oracle(sql: str) -> oracle.OracleResult:
    # canon + sort happen in the worker, so the parallel section covers
    # the whole oracle-side cost and only strings cross the pipe
    return oracle.run_oracle(_WORKER_CON, sql)


def main() -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    sf = os.environ.get("SPARK_GRAFT_VERIFY_SF", "/root/testdata/sf0.01")
    workers = 8
    names = []
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf = a[5:]
        elif a.startswith("--workers="):
            workers = int(a[10:])
        else:
            names.append(a)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    names = names or list(qs)
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    if not entrymod.entry(spark).collect():
        print("RESULT: entry() smoke returned no rows")
        return 1

    pool = None
    if workers > 0:
        import concurrent.futures as cf
        import multiprocessing

        # spawn, not fork: this process already runs py4j threads
        pool = cf.ProcessPoolExecutor(
            max_workers=workers,
            mp_context=multiprocessing.get_context("spawn"),
            initializer=_init_worker,
            initargs=(sf,),
        )
        # submit every oracle up front: they drain across the pool
        # while the main process works through the Spark side
        futs = {n: pool.submit(_run_oracle, oracles[n]) for n in names}
    else:
        _init_worker(sf)

    fails = []
    for name in names:
        sdf = qs[name](spark, sf)
        result = futs.pop(name).result() if pool else _run_oracle(oracles[name])
        failure = oracle.compare_result(sdf, result)
        if failure is None:
            print("OK  ", name, f"({len(result[2])} rows)")
        else:
            print("FAIL", name, failure)
            fails.append(name)
    if pool is not None:
        pool.shutdown()
    print("RESULT:", "ALL MATCH" if not fails else f"MISMATCH: {fails}")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
