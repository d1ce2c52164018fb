"""End-to-end CDC / MERGE demo: the incremental-upsert surface taken
from the reference's insert-if-absent pattern (Automated_Silver_to_Gold
notebook) to its modern lakehouse completion on this engine:

1. insert-if-absent MERGE with a surrogate high-water mark (the
   reference's own K4/W2 pattern),
2. Delta's full clause matrix via ``merge_apply`` — ordered
   conditional WHEN MATCHED clauses, WHEN NOT MATCHED BY SOURCE,
   with the multiple-match check compiled into the plan (one action
   per merge),
3. DLT ``APPLY CHANGES INTO`` (SCD-1): latest-wins snapshot apply,
4. DLT ``APPLY CHANGES ... STORED AS SCD TYPE 2``: version-interval
   history, out-of-order backfill, and ``TRACK HISTORY ON`` with
   update-in-place for untracked columns,
5. snapshot diff (the CDC primitive) between the two applies.

Run:  python examples/cdc_merge_demo.py   (~40 s on local[*])
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.plans.merge import (
    apply_cdc,
    apply_cdc_scd2,
    merge_apply,
    merge_insert_if_absent,
    table_diff,
)
from air_quality_etl_pipeline_spark.session import get_spark


def main() -> None:
    spark = get_spark(app_name="cdc-merge-demo")
    spark.sparkContext.setLogLevel("ERROR")

    dim = spark.createDataFrame(
        [(1, "alpha", 10.0), (2, "beta", 20.0), (3, "gamma", 30.0)],
        "sk long, name string, score double",
    )

    # 1. the reference's own pattern: insert new names, re-keyed past
    # the current high-water mark
    feed = spark.createDataFrame(
        [("beta", 21.0), ("delta", 40.0)], "name string, score double"
    )
    grown = merge_insert_if_absent(
        dim, feed.withColumn("sk", F.lit(None).cast("long")),
        ["name"], surrogate="sk", order_by=["name"],
    )
    print("1. insert-if-absent:", sorted(map(tuple, grown.collect())))

    # 2. full clause matrix, one-action plan: open rows take the
    # correction, stale rows retire, new rows insert
    src = spark.createDataFrame(
        [(1, "alpha", 11.0, "open"), (9, "iota", 90.0, "open")],
        "sk long, name string, score double, status string",
    )
    tgt = dim.withColumn("status", F.lit("open"))
    merged = merge_apply(
        tgt,
        src,
        ["sk"],
        matched_clauses=[
            {"action": "update", "condition": lambda t, s: s["status"] == "open"}
        ],
        not_matched_by_source_clauses=[
            {"action": "delete", "condition": lambda t: t["score"] < 25}
        ],
    )
    print("2. clause-matrix merge:", sorted(map(tuple, merged.collect())))

    # 3. SCD-1 APPLY CHANGES: the highest-sequence change per key wins
    changes = spark.createDataFrame(
        [
            (1, 1, "upsert", 12.0),
            (1, 2, "delete", None),      # latest for key 1: delete
            (4, 1, "upsert", 40.0),      # new key inserts
        ],
        "sk long, seq long, op string, score double",
    )
    snap = apply_cdc(
        dim.select("sk", "score"), changes, ["sk"],
        seq_col="seq", op_col="op",
    )
    print("3. SCD-1 snapshot:", sorted(map(tuple, snap.collect())))

    # 4. SCD-2 history with TRACK HISTORY ON: the phone-only change is
    # absorbed update-in-place; the late city change (seq 2, arriving
    # with everything else) slots into the timeline retroactively
    people = spark.createDataFrame(
        [
            (7, 1, "upsert", "ams", "p1"),
            (7, 4, "upsert", "ams", "p4"),   # untracked-only: absorbed
            (7, 2, "upsert", "rtm", "p2"),   # out-of-order city change
            (7, 6, "delete", None, None),
        ],
        "id long, seq long, op string, city string, phone string",
    )
    hist = apply_cdc_scd2(
        None, people, ["id"], seq_col="seq", op_col="op",
        track_history_on=["city"],
    )
    print("4. SCD-2 history (TRACK HISTORY ON city):")
    for r in sorted(hist.collect(), key=lambda r: (r["id"], r["__START_AT"])):
        print("   ", tuple(r))

    # 5. what changed between the original dim and the SCD-1 snapshot?
    diff = table_diff(dim.select("sk", "score"), snap, ["sk"])
    print("5. snapshot diff:", sorted(map(tuple, diff.collect())))

    spark.stop()


if __name__ == "__main__":
    main()
