"""Delta MERGE semantics matrix pinned on the pure-Spark fallback.

``delta-spark`` is not importable in this container, so ``plans/
merge.py`` always executes its pure-Spark formulations. These tests
enumerate Delta's documented WHEN MATCHED / WHEN NOT MATCHED / WHEN NOT
MATCHED BY SOURCE clause matrix — conditional and unconditional, plus
the multiple-source-match error case — against an INDEPENDENT pure-
Python reference of the documented semantics, so a future Delta-enabled
environment can swap ``DeltaTable.merge`` behind the same call sites
and these pins prove drop-in equivalence.

Reference semantics (Delta Lake MERGE docs):
* matched + clause condition true → update-all (source row wins) or
  delete; condition false / no clause → target row survives.
* a matched source row NEVER inserts, even when its matched clause
  condition is false.
* not-matched source rows insert iff the insert clause exists and its
  condition passes; multiple source rows on one unmatched key all
  insert.
* not-matched-by-source target rows delete iff that clause exists and
  its condition passes, else survive.
* >1 source rows that would ACTUALLY modify one target row (i.e.
  qualify some update/delete clause's condition) is an error
  (DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW); matched source
  rows disqualified by every condition never error (round-8 fix —
  the earlier formulation was stricter than Delta).
* several ordered WHEN MATCHED clauses: FIRST match wins per source
  row; only the last clause may be unconditional.
* key equality is ``=``: NULL keys never match either side.
"""

from __future__ import annotations

import sys
import types

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.plans.merge import (
    merge_apply,
    merge_insert_if_absent,
    upsert_replace,
)
from air_quality_etl_pipeline_spark.workload import count_jobs

SCHEMA = "k long, ver long, val string"

#: the message merge_apply's in-plan multiple-match check raises with
MULTIPLE_MATCH = "MERGE_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW"


class RefMultipleMatches(Exception):
    """The reference model's multiple-source-match error."""

# target: keys 1..4 plus a NULL-key row; source: overlap 3..4 (one
# newer, one older version), fresh 5..6, its own NULL-key row.
TARGET = [
    (1, 1, "t1"),
    (2, 1, "t2"),
    (3, 1, "t3"),
    (4, 5, "t4"),
    (None, 1, "tnull"),
]
SOURCE = [
    (3, 2, "s3"),   # matched, newer ver
    (4, 2, "s4"),   # matched, OLDER ver (conditional clauses skip it)
    (5, 2, "s5"),   # unmatched
    (6, 2, "s6"),   # unmatched
    (None, 2, "snull"),  # NULL key: never matches, inserts if clause
]


def ref_merge(
    target,
    source,
    keys_idx,
    matched_clauses=({"action": "update"},),
    not_matched_clauses=({"condition": None},),
    not_matched_by_source_clauses=(),
):
    """Independent implementation of the documented matrix over row
    tuples (keys_idx = positions of the key columns; set maps are
    ``{col_index: fn(rows...) -> value}``, unlisted columns keep the
    target row's value). Each side is an ordered first-match-wins
    clause list, with ``merge_apply``'s defaults."""

    def key(r):
        return tuple(r[i] for i in keys_idx)

    def matchable(k):
        return all(v is not None for v in k)

    def apply_sets(trow, sets, *args):
        return tuple(
            sets[i](*args) if i in sets else v for i, v in enumerate(trow)
        )

    src_by_key = {}
    for r in source:
        src_by_key.setdefault(key(r), []).append(r)
    out, matched_keys = [], set()
    for trow in target:
        k = key(trow)
        matches = src_by_key.get(k, []) if matchable(k) else []
        if matches:
            matched_keys.add(k)
            # per source row: FIRST clause whose condition holds; a
            # target row actually modified by >1 qualifying source
            # rows is Delta's error — disqualified matches are not
            qual = []
            for srow in matches:
                for i, c in enumerate(matched_clauses):
                    if c.get("condition") is None or c["condition"](
                        trow, srow
                    ):
                        qual.append((i, c, srow))
                        break
            if len(qual) > 1:
                raise RefMultipleMatches(str(k))
            if qual:
                _, c, srow = qual[0]
                if c["action"] == "update":
                    out.append(
                        srow
                        if c.get("set") is None
                        else apply_sets(trow, c["set"], trow, srow)
                    )
                # delete: drop
            else:
                out.append(trow)
        else:
            fired = False
            for c in not_matched_by_source_clauses:
                if c.get("condition") is None or c["condition"](trow):
                    fired = True
                    if c["action"] == "update":
                        out.append(apply_sets(trow, c["set"], trow))
                    # delete: drop
                    break
            if not fired:
                out.append(trow)
    for srow in source:
        k = key(srow)
        if matchable(k) and k in matched_keys:
            continue
        for c in not_matched_clauses:
            if c.get("condition") is None or c["condition"](srow):
                if c.get("values") is None:
                    out.append(srow)
                else:
                    out.append(
                        tuple(
                            c["values"][i](srow) if i in c["values"] else None
                            for i in range(len(srow))
                        )
                    )
                break
    return sorted(out, key=str)


def run_spark(spark, **kw):
    t = spark.createDataFrame(TARGET, SCHEMA)
    s = spark.createDataFrame(SOURCE, SCHEMA)
    got = merge_apply(t, s, ["k"], **kw).collect()
    return sorted((tuple(r) for r in got), key=str)


NEWER_T = lambda t, s: s["ver"] > t["ver"]          # noqa: E731
NEWER_PY = lambda tr, sr: sr[1] > tr[1]             # noqa: E731
VAL_S6_T = lambda s: s["val"] == F.lit("s6")        # noqa: E731
VAL_S6_PY = lambda sr: sr[2] == "s6"                # noqa: E731
VER5_T = lambda t: t["ver"] == F.lit(5)             # noqa: E731
VER5_PY = lambda tr: tr[1] == 5                     # noqa: E731
#: one conditional UPDATE SET *: a matched row updates iff the source is newer
UPDATE_NEWER_T = [{"action": "update", "condition": NEWER_T}]
UPDATE_NEWER_PY = [{"action": "update", "condition": NEWER_PY}]

MATRIX = [
    # (name, spark kwargs, reference kwargs)
    ("upsert_all", {}, {}),
    ("insert_only", dict(matched_clauses=[]), dict(matched_clauses=[])),
    (
        "update_only_no_insert",
        dict(not_matched_clauses=[]),
        dict(not_matched_clauses=[]),
    ),
    (
        "matched_delete",
        dict(matched_clauses=[{"action": "delete"}]),
        dict(matched_clauses=[{"action": "delete"}]),
    ),
    (
        "conditional_update",
        dict(matched_clauses=[{"action": "update", "condition": NEWER_T}]),
        dict(matched_clauses=[{"action": "update", "condition": NEWER_PY}]),
    ),
    (
        "conditional_delete",
        dict(matched_clauses=[{"action": "delete", "condition": NEWER_T}]),
        dict(matched_clauses=[{"action": "delete", "condition": NEWER_PY}]),
    ),
    (
        "conditional_insert",
        dict(matched_clauses=[], not_matched_clauses=[{"condition": VAL_S6_T}]),
        dict(matched_clauses=[], not_matched_clauses=[{"condition": VAL_S6_PY}]),
    ),
    (
        "sync_delete_by_source",
        dict(not_matched_by_source_clauses=[{"action": "delete"}]),
        dict(not_matched_by_source_clauses=[{"action": "delete"}]),
    ),
    (
        "conditional_delete_by_source",
        dict(
            not_matched_by_source_clauses=[
                {"action": "delete", "condition": VER5_T}
            ]
        ),
        dict(
            not_matched_by_source_clauses=[
                {"action": "delete", "condition": VER5_PY}
            ]
        ),
    ),
    (
        "full_sync",
        dict(
            matched_clauses=[{"action": "update", "condition": NEWER_T}],
            not_matched_by_source_clauses=[{"action": "delete"}],
        ),
        dict(
            matched_clauses=[{"action": "update", "condition": NEWER_PY}],
            not_matched_by_source_clauses=[{"action": "delete"}],
        ),
    ),
    (
        # explicit UPDATE SET: take the source version, keep target val
        "matched_update_set",
        dict(
            matched_clauses=[
                {"action": "update", "set": {"ver": lambda t, s: s["ver"]}}
            ]
        ),
        dict(
            matched_clauses=[
                {"action": "update", "set": {1: lambda tr, sr: sr[1]}}
            ]
        ),
    ),
    (
        # NOT MATCHED BY SOURCE UPDATE SET: tombstone the val column
        "nmbs_update_set",
        dict(
            not_matched_by_source_clauses=[
                {
                    "action": "update",
                    "set": {
                        "val": lambda t: F.lit("stale"),
                        "ver": lambda t: t["ver"] + 100,
                    },
                }
            ]
        ),
        dict(
            not_matched_by_source_clauses=[
                {
                    "action": "update",
                    "set": {
                        2: lambda tr: "stale",
                        1: lambda tr: tr[1] + 100,
                    },
                }
            ]
        ),
    ),
    (
        # conditional NMBS update: only ver=5 rows get tombstoned
        "nmbs_update_set_conditional",
        dict(
            not_matched_by_source_clauses=[
                {
                    "action": "update",
                    "condition": VER5_T,
                    "set": {"val": lambda t: F.lit("stale")},
                }
            ]
        ),
        dict(
            not_matched_by_source_clauses=[
                {
                    "action": "update",
                    "condition": VER5_PY,
                    "set": {2: lambda tr: "stale"},
                }
            ]
        ),
    ),
    (
        # TWO ordered clauses, first match wins per source row:
        # newer source → update; anything else matched → delete
        "two_clause_update_then_delete",
        dict(
            matched_clauses=[
                {"action": "update", "condition": NEWER_T},
                {"action": "delete"},
            ]
        ),
        dict(
            matched_clauses=[
                {"action": "update", "condition": NEWER_PY},
                {"action": "delete"},
            ]
        ),
    ),
    (
        # delete first, explicit-SET update as the fall-through clause
        "two_clause_delete_then_set",
        dict(
            matched_clauses=[
                {"action": "delete", "condition": NEWER_T},
                {
                    "action": "update",
                    "set": {"val": lambda t, s: F.lit("kept")},
                },
            ]
        ),
        dict(
            matched_clauses=[
                {"action": "delete", "condition": NEWER_PY},
                {"action": "update", "set": {2: lambda tr, sr: "kept"}},
            ]
        ),
    ),
    (
        # both conditional: key 3 fires clause 1, key 4 clause 2,
        # unqualified matches keep the target row
        "two_clause_both_conditional",
        dict(
            matched_clauses=[
                {"action": "update", "condition": NEWER_T},
                {
                    "action": "delete",
                    "condition": lambda t, s: t["ver"] == F.lit(5),
                },
            ],
            not_matched_by_source_clauses=[{"action": "delete"}],
        ),
        dict(
            matched_clauses=[
                {"action": "update", "condition": NEWER_PY},
                {"action": "delete", "condition": lambda tr, sr: tr[1] == 5},
            ],
            not_matched_by_source_clauses=[{"action": "delete"}],
        ),
    ),
    (
        # ordered INSERT clauses: s6 gets an explicit VALUES map
        # (unlisted target columns -> NULL), everything else INSERT *
        "two_clause_insert_values_then_all",
        dict(
            matched_clauses=[],
            not_matched_clauses=[
                {
                    "condition": VAL_S6_T,
                    "values": {
                        "k": lambda s: s["k"],
                        "ver": lambda s: s["ver"] + 90,
                    },
                },
                {"condition": None},
            ],
        ),
        dict(
            matched_clauses=[],
            not_matched_clauses=[
                {
                    "condition": VAL_S6_PY,
                    "values": {0: lambda sr: sr[0], 1: lambda sr: sr[1] + 90},
                },
                {"condition": None},
            ],
        ),
    ),
    (
        # conditional insert list with NO unconditional tail: rows
        # matching no clause are dropped, per Delta
        "insert_clause_list_drops_unmatched",
        dict(
            matched_clauses=[],
            not_matched_clauses=[{"condition": VAL_S6_T}],
        ),
        dict(
            matched_clauses=[],
            not_matched_clauses=[{"condition": VAL_S6_PY}],
        ),
    ),
    (
        # ordered NOT MATCHED BY SOURCE clauses: ver=5 rows delete,
        # the rest tombstone via UPDATE SET
        "two_clause_nmbs_delete_then_set",
        dict(
            not_matched_by_source_clauses=[
                {"action": "delete", "condition": VER5_T},
                {
                    "action": "update",
                    "set": {"val": lambda t: F.lit("stale")},
                },
            ],
        ),
        dict(
            not_matched_by_source_clauses=[
                {"action": "delete", "condition": VER5_PY},
                {"action": "update", "set": {2: lambda tr: "stale"}},
            ],
        ),
    ),
]


@pytest.mark.parametrize("name,skw,rkw", MATRIX, ids=[m[0] for m in MATRIX])
def test_merge_matrix_matches_reference(spark, name, skw, rkw):
    want = ref_merge(TARGET, SOURCE, [0], **rkw)
    assert run_spark(spark, **skw) == want


def test_multiple_source_match_errors_like_delta(spark):
    t = spark.createDataFrame(TARGET, SCHEMA)
    dup = spark.createDataFrame(
        SOURCE + [(3, 9, "s3b")], SCHEMA  # second source row for key 3
    )
    with pytest.raises(SparkRuntimeException, match=MULTIPLE_MATCH):
        merge_apply(t, dup, ["k"]).collect()
    with pytest.raises(SparkRuntimeException, match=MULTIPLE_MATCH):
        merge_apply(t, dup, ["k"], matched_clauses=[{"action": "delete"}]).collect()
    # insert-only: duplicates on a MATCHED key are irrelevant (no
    # update/delete fires) — Delta does not error here
    got = merge_apply(t, dup, ["k"], matched_clauses=[]).collect()
    assert len(got) == len(TARGET) + 3  # 5,6 and source NULL row insert
    # duplicates on an UNMATCHED key all insert, no error
    dup_new = spark.createDataFrame(
        [(7, 1, "a"), (7, 2, "b")], SCHEMA
    )
    got = merge_apply(t, dup_new, ["k"]).collect()
    assert sorted(r["val"] for r in got if r["k"] == 7) == ["a", "b"]


def test_multiple_match_errors_only_when_actually_modified(spark):
    """Round-8 advisor fix: Delta errors only when the same target row
    would ACTUALLY be modified by >1 source rows. Two source rows on a
    matched key where the clause condition qualifies just one must NOT
    error — the qualifying row fires; both qualifying must error."""
    t = spark.createDataFrame(TARGET, SCHEMA)
    one_qual = SOURCE + [(3, 0, "s3b")]  # ver0 < t3's ver1: disqualified
    s1 = spark.createDataFrame(one_qual, SCHEMA)
    got = sorted(
        (
            tuple(r)
            for r in merge_apply(
                t, s1, ["k"], matched_clauses=UPDATE_NEWER_T
            ).collect()
        ),
        key=str,
    )
    assert got == ref_merge(TARGET, one_qual, [0], matched_clauses=UPDATE_NEWER_PY)
    assert (3, 2, "s3") in got and (3, 1, "t3") not in got
    both_qual = SOURCE + [(3, 9, "s3b")]
    s2 = spark.createDataFrame(both_qual, SCHEMA)
    with pytest.raises(SparkRuntimeException, match=MULTIPLE_MATCH):
        merge_apply(t, s2, ["k"], matched_clauses=UPDATE_NEWER_T).collect()
    with pytest.raises(RefMultipleMatches, match="3"):
        ref_merge(TARGET, both_qual, [0], matched_clauses=UPDATE_NEWER_PY)
    # across TWO clauses: one source row qualifying each still means
    # two modifications of the same target row → error
    with pytest.raises(SparkRuntimeException, match=MULTIPLE_MATCH):
        merge_apply(
            t,
            s1,  # s3 ver2 (newer → clause 1), s3b ver0 (clause 2)
            ["k"],
            matched_clauses=[
                {"action": "update", "condition": NEWER_T},
                {"action": "delete"},
            ],
        ).collect()


def test_multiple_match_check_runs_in_plan(spark):
    """The Delta multiple-match error is compiled INTO the plan (a
    raise_error branch): building never raises, the caller's action
    does (like Delta's .execute()), a disqualified duplicate never
    errors, and duplicates on an unmatched key all insert."""
    t = spark.createDataFrame(TARGET, SCHEMA)
    dup = spark.createDataFrame(SOURCE + [(3, 9, "s3b")], SCHEMA)
    # duplicate modifying rows, unconditional and conditional clause:
    # building the plan does NOT raise...
    out = merge_apply(t, dup, ["k"])
    out2 = merge_apply(t, dup, ["k"], matched_clauses=UPDATE_NEWER_T)
    for df in (out, out2):
        with pytest.raises(SparkRuntimeException, match=MULTIPLE_MATCH):
            df.collect()  # ...the caller's action does
    # only ONE duplicate qualifies (ver0 disqualified by NEWER_T): no
    # error, the qualifying row wins
    one_qual = SOURCE + [(3, 0, "s3b")]
    got = sorted(
        (
            tuple(r)
            for r in merge_apply(
                t,
                spark.createDataFrame(one_qual, SCHEMA),
                ["k"],
                matched_clauses=UPDATE_NEWER_T,
            ).collect()
        ),
        key=str,
    )
    assert got == ref_merge(TARGET, one_qual, [0], matched_clauses=UPDATE_NEWER_PY)
    # duplicates on an UNMATCHED key still all insert, no error
    dup_new = spark.createDataFrame([(7, 1, "a"), (7, 2, "b")], SCHEMA)
    got = merge_apply(t, dup_new, ["k"]).collect()
    assert sorted(r["val"] for r in got if r["k"] == 7) == ["a", "b"]


def test_merge_build_runs_no_jobs_over_duplicates(spark):
    """Building a merge over a duplicate-key source launches no Spark
    job, with a conditional and with an unconditional matched clause
    alike: the multiple-match check is part of the plan, not a probe at
    build time."""
    t = spark.createDataFrame(TARGET, SCHEMA)
    dup = spark.createDataFrame(SOURCE + [(3, 9, "s3b")], SCHEMA)
    for kw in (dict(matched_clauses=UPDATE_NEWER_T), {}):
        _, jobs = count_jobs(spark, lambda: merge_apply(t, dup, ["k"], **kw))
        assert jobs == 0, kw


def test_merge_count_over_duplicates_raises(spark):
    """``count()`` evaluates every output row, so it raises the
    multiple-match error like ``collect()`` does, with a conditional
    and with an unconditional matched clause."""
    t = spark.createDataFrame(TARGET, SCHEMA)
    dup = spark.createDataFrame(SOURCE + [(3, 9, "s3b")], SCHEMA)
    for kw in (dict(matched_clauses=UPDATE_NEWER_T), {}):
        with pytest.raises(SparkRuntimeException, match=MULTIPLE_MATCH):
            merge_apply(t, dup, ["k"], **kw).count()


def test_non_last_unconditional_clause_rejected(spark):
    """Delta's rule: an unconditional whenMatched clause anywhere but
    last makes later clauses dead — reject at build time."""
    t = spark.createDataFrame(TARGET, SCHEMA)
    s = spark.createDataFrame(SOURCE, SCHEMA)
    with pytest.raises(ValueError, match="unconditional"):
        merge_apply(
            t,
            s,
            ["k"],
            matched_clauses=[
                {"action": "update"},
                {"action": "delete", "condition": NEWER_T},
            ],
        )
    with pytest.raises(ValueError, match="unconditional"):
        merge_apply(
            t,
            s,
            ["k"],
            not_matched_clauses=[
                {"condition": None},
                {"condition": VAL_S6_T},
            ],
        )
    with pytest.raises(ValueError, match="unconditional"):
        merge_apply(
            t,
            s,
            ["k"],
            not_matched_by_source_clauses=[
                {"action": "delete"},
                {"action": "delete", "condition": VER5_T},
            ],
        )


def test_specialized_forms_agree_with_general(spark):
    """merge_insert_if_absent == insert-only matrix cell;
    upsert_replace == unconditional update+insert cell."""
    t = spark.createDataFrame(TARGET, SCHEMA)
    s = spark.createDataFrame(SOURCE, SCHEMA)
    gen_ins = sorted(
        (tuple(r) for r in merge_apply(t, s, ["k"], matched_clauses=[]).collect()),
        key=str,
    )
    spec_ins = sorted(
        (tuple(r) for r in merge_insert_if_absent(t, s, ["k"]).collect()),
        key=str,
    )
    assert gen_ins == spec_ins
    gen_up = run_spark(spark)
    spec_up = sorted(
        (tuple(r) for r in upsert_replace(t, s, ["k"]).collect()), key=str
    )
    assert gen_up == spec_up


# ---------------------------------------------------------------------------
# Property: random tables x random clause combination == reference
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_row = st.tuples(
    st.one_of(st.none(), st.integers(0, 6)),   # key (small domain → collisions)
    st.integers(0, 9),                          # ver
    st.sampled_from(["a", "b", "c"]),           # val
)
_cl_matched = st.lists(
    st.fixed_dictionaries(
        {
            "action": st.sampled_from(["update", "delete"]),
            "cond": st.sampled_from(["newer", "ver5", None]),
        }
    ),
    max_size=3,
)
_cl_insert = st.lists(
    st.fixed_dictionaries(
        {
            "cond": st.sampled_from(["s6", "ver5s", None]),
            "values": st.booleans(),
        }
    ),
    max_size=2,
)
_cl_nmbs = st.lists(
    st.fixed_dictionaries(
        {
            "action": st.sampled_from(["update", "delete"]),
            "cond": st.sampled_from(["ver5t", None]),
        }
    ),
    max_size=2,
)

_MC_T = {"newer": NEWER_T, "ver5": lambda t, s: t["ver"] == F.lit(5)}
_MC_PY = {"newer": NEWER_PY, "ver5": lambda tr, sr: tr[1] == 5}
_IC_T = {"s6": VAL_S6_T, "ver5s": lambda s: s["ver"] >= 5}
_IC_PY = {"s6": VAL_S6_PY, "ver5s": lambda sr: sr[1] >= 5}
_NC_T = {"ver5t": VER5_T}
_NC_PY = {"ver5t": VER5_PY}


def _legalize(clauses):
    """Delta's rule: drop everything after the first unconditional
    clause so generated lists are always legal."""
    out = []
    for c in clauses:
        out.append(c)
        if c["cond"] is None:
            break
    return out


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    target=st.lists(_row, max_size=8),
    source=st.lists(_row, max_size=8),
    mc=_cl_matched,
    ic=_cl_insert,
    nc=_cl_nmbs,
)
def test_merge_clause_lists_property_matches_reference(
    spark, target, source, mc, ic, nc
):
    """Random ordered clause lists on all three sides == reference
    (first-match-wins, qualifying-row probe, VALUES-map inserts)."""
    mc, ic, nc = _legalize(mc), _legalize(ic), _legalize(nc)
    skw = dict(
        matched_clauses=[
            {"action": c["action"], "condition": _MC_T.get(c["cond"])}
            for c in mc
        ],
        not_matched_clauses=[
            {
                "condition": _IC_T.get(c["cond"]),
                "values": (
                    {"k": lambda s: s["k"], "ver": lambda s: s["ver"] + 50}
                    if c["values"]
                    else None
                ),
            }
            for c in ic
        ],
        not_matched_by_source_clauses=[
            {
                "action": c["action"],
                "condition": _NC_T.get(c["cond"]),
                "set": (
                    {"val": lambda t: F.lit("x")}
                    if c["action"] == "update"
                    else None
                ),
            }
            for c in nc
        ],
    )
    rkw = dict(
        matched_clauses=[
            {"action": c["action"], "condition": _MC_PY.get(c["cond"])}
            for c in mc
        ],
        not_matched_clauses=[
            {
                "condition": _IC_PY.get(c["cond"]),
                "values": (
                    {0: lambda sr: sr[0], 1: lambda sr: sr[1] + 50}
                    if c["values"]
                    else None
                ),
            }
            for c in ic
        ],
        not_matched_by_source_clauses=[
            {
                "action": c["action"],
                "condition": _NC_PY.get(c["cond"]),
                "set": (
                    {2: lambda tr: "x"} if c["action"] == "update" else None
                ),
            }
            for c in nc
        ],
    )
    t = spark.createDataFrame(target, SCHEMA) if target else (
        spark.createDataFrame([], SCHEMA)
    )
    s = spark.createDataFrame(source, SCHEMA) if source else (
        spark.createDataFrame([], SCHEMA)
    )
    try:
        want = ref_merge(target, source, [0], **rkw)
    except RefMultipleMatches:
        with pytest.raises(SparkRuntimeException, match=MULTIPLE_MATCH):
            merge_apply(t, s, ["k"], **skw).collect()
        return
    got = sorted(
        (tuple(r) for r in merge_apply(t, s, ["k"], **skw).collect()),
        key=str,
    )
    assert got == want


# --- schema evolution × clause lists (round-8 verdict #7) -----------
# Evolution is modeled in the reference by pre-widening rows to the
# unified (k, ver, val, extra) layout: target rows pad extra=None,
# source rows pad the column they lack, and Delta's evolved UPDATE
# SET * becomes an explicit set map over the source's ORIGINAL
# columns — precisely what merge_apply now does internally, checked
# here including evolved-column SET/VALUES in clauses >= 2 (the
# Delta-documented corner).

_evo_row = st.tuples(
    st.one_of(st.none(), st.integers(0, 6)),   # key
    st.integers(0, 9),                          # ver
    st.sampled_from(["a", "b", "c"]),           # val
    st.integers(0, 9),                          # extra (source only)
)
_evo_mc = st.lists(
    st.fixed_dictionaries(
        {
            "action": st.sampled_from(["update", "delete"]),
            "cond": st.sampled_from(["newer", "ver5", None]),
            "set": st.sampled_from([None, "bump_extra", "val_x"]),
        }
    ),
    max_size=3,
)
_evo_ic = st.lists(
    st.fixed_dictionaries(
        {
            "cond": st.sampled_from(["ver5s", None]),
            "values": st.sampled_from([None, "extra_only"]),
        }
    ),
    max_size=2,
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    target=st.lists(st.tuples(
        st.one_of(st.none(), st.integers(0, 6)),
        st.integers(0, 9),
        st.sampled_from(["a", "b", "c"]),
    ), max_size=8),
    source=st.lists(_evo_row, max_size=8),
    mc=_evo_mc,
    ic=_evo_ic,
    drop_val=st.booleans(),
)
def test_merge_schema_evolution_clause_lists_matches_reference(
    spark, target, source, mc, ic, drop_val
):
    mc, ic = _legalize(mc), _legalize(ic)
    # unified layout: (k, ver, val, extra); source original columns
    # depend on drop_val (True = source also LACKS the target's val)
    src_cols = "k long, ver long, extra long" if drop_val else (
        "k long, ver long, val string, extra long"
    )
    src_rows = [
        ((k, ver, extra) if drop_val else (k, ver, val, extra))
        for (k, ver, val, extra) in source
    ]
    src_unified = [
        ((k, ver, None, extra) if drop_val else r)
        for r, (k, ver, val, extra) in zip(src_rows, source)
    ]
    tgt_unified = [(k, ver, val, None) for (k, ver, val) in target]
    # evolved SET *: explicit map over source-original non-key columns
    star_idx = [1, 3] if drop_val else [1, 2, 3]
    star_set = {i: (lambda tr, sr, _i=i: sr[_i]) for i in star_idx}

    _mc_t = {
        "newer": NEWER_T,
        "ver5": lambda t, s: t["ver"] == F.lit(5),
        None: None,
    }
    _mc_py = {
        "newer": NEWER_PY,
        "ver5": lambda tr, sr: tr[1] == 5,
        None: None,
    }
    _set_t = {
        None: None,
        # evolved column in a SET map (+ NULL-safe mirror in the ref)
        "bump_extra": {"extra": lambda t, s: s["extra"] + F.lit(100)},
        "val_x": {"val": lambda t, s: F.lit("x")},
    }
    _set_py = {
        None: None,  # SET * — remapped to star_set per-clause below
        "bump_extra": {
            3: lambda tr, sr: None if sr[3] is None else sr[3] + 100
        },
        "val_x": {2: lambda tr, sr: "x"},
    }
    _ic_t = {"ver5s": lambda s: s["ver"] >= 5, None: None}
    _ic_py = {"ver5s": lambda sr: sr[1] >= 5, None: None}
    _vals_t = {
        None: None,
        "extra_only": {
            "k": lambda s: s["k"],
            "extra": lambda s: s["extra"] + F.lit(7),
        },
    }
    _vals_py = {
        None: None,
        "extra_only": {
            0: lambda sr: sr[0],
            3: lambda sr: None if sr[3] is None else sr[3] + 7,
        },
    }

    skw = dict(
        matched_clauses=[
            {
                "action": c["action"],
                "condition": _mc_t[c["cond"]],
                "set": _set_t[c["set"]],
            }
            for c in mc
        ],
        not_matched_clauses=[
            {"condition": _ic_t[c["cond"]], "values": _vals_t[c["values"]]}
            for c in ic
        ],
        schema_evolution=True,
    )
    rkw = dict(
        matched_clauses=[
            {
                "action": c["action"],
                "condition": _mc_py[c["cond"]],
                # ref sees the already-widened rows, so evolved SET *
                # must be spelled as the source-original set map
                "set": (
                    star_set
                    if c["set"] is None and c["action"] == "update"
                    else _set_py[c["set"]]
                ),
            }
            for c in mc
        ],
        not_matched_clauses=[
            {
                "condition": _ic_py[c["cond"]],
                "values": _vals_py[c["values"]],
            }
            for c in ic
        ],
    )
    t = spark.createDataFrame(target, SCHEMA) if target else (
        spark.createDataFrame([], SCHEMA)
    )
    s = spark.createDataFrame(src_rows, src_cols) if src_rows else (
        spark.createDataFrame([], src_cols)
    )
    try:
        want = ref_merge(tgt_unified, src_unified, [0], **rkw)
    except RefMultipleMatches:
        with pytest.raises(SparkRuntimeException, match=MULTIPLE_MATCH):
            merge_apply(t, s, ["k"], **skw).collect()
        return
    out = merge_apply(t, s, ["k"], **skw)
    assert out.columns == ["k", "ver", "val", "extra"]
    got = sorted((tuple(r) for r in out.collect()), key=str)
    assert got == want


def test_merge_into_table_fallback_insert_if_absent(spark, tmp_path):
    """Catalog-table MERGE on the non-Delta path: insert-if-absent
    semantics, idempotent on re-run (the fallback must never
    double-insert), and new keys append."""
    from air_quality_etl_pipeline_spark.plans.merge import merge_into_table

    table = f"merge_tgt_{abs(hash(str(tmp_path))) % 10**8}"
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    ).write.mode("overwrite").saveAsTable(table)
    src = spark.createDataFrame(
        [(2, "B"), (3, "c")], "k long, v string"
    )
    merge_into_table(spark, table, src, ["k"])
    got = sorted(tuple(r) for r in spark.table(table).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]  # 2 kept, 3 inserted
    merge_into_table(spark, table, src, ["k"])  # idempotent
    got2 = sorted(tuple(r) for r in spark.table(table).collect())
    assert got2 == got
    spark.sql(f"DROP TABLE {table}")


def test_merge_into_table_delta_branch_matches_keys_with_equals(monkeypatch):
    """With Delta importable, ``merge_into_table`` merges on ``=`` per
    key, the same NULL-never-matches condition as its anti-join
    fallback, then inserts every unmatched source row. ``delta.tables``
    is stubbed to record the calls."""
    from air_quality_etl_pipeline_spark.plans.merge import merge_into_table

    calls = []

    class Merge:
        def whenNotMatchedInsertAll(self):
            calls.append("insert_all")
            return self

        def execute(self):
            calls.append("execute")

    class Table:
        def alias(self, name):
            calls.append(("alias", name))
            return self

        def merge(self, source, condition):
            calls.append(("merge", source, condition))
            return Merge()

    class Source:
        def alias(self, name):
            return f"source as {name}"

    delta_tables = types.ModuleType("delta.tables")
    delta_tables.DeltaTable = types.SimpleNamespace(
        forName=lambda spark, table: Table()
    )
    monkeypatch.setitem(sys.modules, "delta", types.ModuleType("delta"))
    monkeypatch.setitem(sys.modules, "delta.tables", delta_tables)
    merge_into_table(None, "tgt", Source(), ["k", "j"])
    assert calls == [
        ("alias", "t"),
        ("merge", "source as s", "t.k = s.k AND t.j = s.j"),
        "insert_all",
        "execute",
    ]


def test_merge_schema_evolution(spark):
    """Delta withSchemaEvolution(): source-only columns append to the
    output schema; pre-existing target rows carry NULL there, updated
    and inserted rows carry the source values; a source missing a
    target column inserts NULL there (Delta's evolved INSERT *)."""
    t = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    s = spark.createDataFrame(
        [(2, "B", 9), (3, "c", 7)], "k long, v string, extra long"
    )
    out = merge_apply(t, s, ["k"], schema_evolution=True)
    assert out.columns == ["k", "v", "extra"]
    rows = {r["k"]: (r["v"], r["extra"]) for r in out.collect()}
    assert rows == {1: ("a", None), 2: ("B", 9), 3: ("c", 7)}
    # without evolution the extra source column is simply ignored
    out2 = merge_apply(t, s, ["k"])
    assert out2.columns == ["k", "v"]
    # source missing a target column: evolved INSERT * fills NULL
    s2 = spark.createDataFrame([(3, 5), (2, 6)], "k long, extra long")
    out3 = merge_apply(
        t, s2, ["k"], matched_clauses=[], schema_evolution=True
    )
    rows3 = {r["k"]: (r["v"], r["extra"]) for r in out3.collect()}
    assert rows3 == {1: ("a", None), 2: ("b", None), 3: (None, 5)}
    # Delta's updateAll under evolution: UPDATE SET * on a source
    # MISSING a target column keeps the target's value there (only
    # insertAll fills NULL) — round-8 advisor fix; the NULL padding
    # must not leak into matched rows
    out3u = merge_apply(
        t,
        s2,
        ["k"],
        matched_clauses=[{"action": "update"}],
        schema_evolution=True,
    )
    rows3u = {r["k"]: (r["v"], r["extra"]) for r in out3u.collect()}
    assert rows3u == {1: ("a", None), 2: ("b", 6), 3: (None, 5)}
    # same via an explicit clause list with set=None (SET * form)
    out3c = merge_apply(
        t,
        s2,
        ["k"],
        matched_clauses=[{"action": "update", "set": None, "condition": None}],
        schema_evolution=True,
    )
    assert {
        r["k"]: (r["v"], r["extra"]) for r in out3c.collect()
    } == rows3u
    # conditional matched clause + evolution over duplicate source
    # keys: the qualifying row's evolved value wins, the disqualified
    # shadow neither errors nor wins
    s3 = spark.createDataFrame(
        [(2, "B", 9), (2, "shadow", 1)], "k long, v string, extra long"
    )
    out4 = merge_apply(
        t,
        s3,
        ["k"],
        matched_clauses=[
            {"action": "update", "condition": lambda tt, ss: ss["v"] == "B"}
        ],
        not_matched_clauses=[],
        schema_evolution=True,
    )
    rows4 = {r["k"]: (r["v"], r["extra"]) for r in out4.collect()}
    assert rows4 == {1: ("a", None), 2: ("B", 9)}


def test_apply_cdc_latest_wins(spark):
    """DLT APPLY CHANGES INTO semantics: highest-sequence change per
    key decides; delete drops, upsert updates/inserts; superseded and
    out-of-order changes are absorbed; duplicate sequence numbers
    resolve by the documented total order (max over the full change
    struct), deterministically."""
    from air_quality_etl_pipeline_spark.plans.merge import apply_cdc

    t = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    ch = spark.createDataFrame(
        [
            (1, 1, "upsert", "A1"),
            (1, 2, "delete", None),   # latest for key 1: delete
            (2, 5, "upsert", "B5"),
            (2, 3, "delete", None),   # superseded delete: absorbed
            (4, 1, "upsert", "D1"),   # unseen key: insert
            (5, 1, "delete", None),   # delete of unseen key: no-op
            (6, 7, "upsert", "Xa"),  # duplicate seq: the total order
            (6, 7, "upsert", "Xb"),  # over (seq, op, v) picks 'Xb'
        ],
        "k long, seq long, op string, v string",
    )
    out = apply_cdc(t, ch, ["k"], seq_col="seq", op_col="op")
    rows = {r["k"]: r["v"] for r in out.collect()}
    assert rows == {2: "B5", 3: "c", 4: "D1", 6: "Xb"}
    # idempotent: replaying the same feed changes nothing
    again = apply_cdc(out, ch, ["k"], seq_col="seq", op_col="op")
    assert {r["k"]: r["v"] for r in again.collect()} == rows


def _ref_cdc_scd1(target, feed):
    """Independent SCD-1 reference: per key the max (seq, op, payload)
    change decides — delete drops the key, anything else upserts;
    target keys without changes pass through. Mirrors apply_cdc's
    max(struct(seq, op, v)) total order (None payload sorts lowest)."""
    best = {}
    for k, seq, op, v in feed:
        key = (seq, op or "", v is not None, v or "")
        prev = best.get(k)
        if prev is None or key > prev[0]:
            best[k] = (key, op, v)
    out = dict(target)
    for k, (_, op, v) in best.items():
        if op == "delete":
            out.pop(k, None)
        else:
            out[k] = v
    return sorted(out.items(), key=str)


_scd1_event = st.tuples(
    st.integers(0, 3),
    st.integers(0, 5),
    st.sampled_from(["upsert", "delete"]),
    st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    target=st.dictionaries(st.integers(0, 3), st.sampled_from(["t0", "t1"]),
                           max_size=4),
    feed=st.lists(_scd1_event, min_size=1, max_size=12),
    split_seq=st.integers(0, 6),
)
def test_apply_cdc_scd1_property(spark, target, feed, split_seq):
    """SCD-1 APPLY CHANGES contract, property-tested: (1) one-shot
    apply matches the independent latest-wins reference on random
    feeds (duplicate cells, deletes, NULL payloads, delete-of-unseen);
    (2) a SEQUENCE-ORDERED split applied in two steps converges to the
    one-shot snapshot (the stateless contract — arbitrary splits need
    tombstone state, which is the SCD-2 path's job); (3) replaying the
    FULL feed onto the result is a no-op."""
    from air_quality_etl_pipeline_spark.plans.merge import apply_cdc

    tschema = "k long, v string"
    schema = "k long, seq long, op string, v string"
    t = (
        spark.createDataFrame(list(target.items()), tschema)
        if target
        else spark.createDataFrame([], tschema)
    )
    full = spark.createDataFrame(feed, schema)

    def rows(df):
        return sorted(((r["k"], r["v"]) for r in df.collect()), key=str)

    want = _ref_cdc_scd1(target, feed)
    one_shot = apply_cdc(t, full, ["k"], seq_col="seq", op_col="op")
    assert rows(one_shot) == want
    a = [e for e in feed if e[1] < split_seq]
    b = [e for e in feed if e[1] >= split_seq]
    st1 = t
    if a:
        st1 = apply_cdc(
            t, spark.createDataFrame(a, schema), ["k"],
            seq_col="seq", op_col="op",
        ).localCheckpoint(eager=True)
    st2 = st1
    if b:
        st2 = apply_cdc(
            st1, spark.createDataFrame(b, schema), ["k"],
            seq_col="seq", op_col="op",
        )
    assert rows(st2) == want
    replay = apply_cdc(one_shot, full, ["k"], seq_col="seq", op_col="op")
    assert rows(replay) == want


def test_apply_cdc_scd2_intervals(spark):
    """SCD TYPE 2 apply from empty: each upsert opens a version at its
    sequence, the NEXT change of any op closes it, deletes close
    without opening, the live version has NULL __END_AT, and duplicate
    (key, seq) deliveries resolve by the documented total order."""
    from air_quality_etl_pipeline_spark.plans.merge import apply_cdc_scd2

    ch = spark.createDataFrame(
        [
            (1, 1, "upsert", "a1"),
            (1, 3, "upsert", "a3"),
            (1, 5, "delete", None),   # closes a3 at 5, opens nothing
            (2, 2, "upsert", "b2"),   # stays open
            (3, 1, "delete", None),   # delete of unseen key: [1,1] tombstone
            (4, 7, "upsert", "dA"),   # duplicate (key, seq): total
            (4, 7, "upsert", "dB"),   # order picks 'dB'
        ],
        "k long, seq long, op string, v string",
    )
    out = apply_cdc_scd2(None, ch, ["k"], seq_col="seq", op_col="op")
    got = sorted(
        (r["k"], r["v"], r["__START_AT"], r["__END_AT"])
        for r in out.collect()
    )
    assert got == [
        (1, "a1", 1, 3),
        (1, "a3", 3, 5),
        (2, "b2", 2, None),
        # naked tombstone: closed nothing, but must survive so a
        # later-arriving LOWER-seq upsert for key 3 still gets closed
        (3, None, 1, 1),
        (4, "dB", 7, None),
    ]


def test_apply_cdc_scd2_history_replay_idempotent(spark):
    """Applying a feed, then replaying ANY slice of it (full feed,
    prefix, duplicates) onto the produced history is a no-op — DLT's
    documented retry idempotency; a genuinely NEW change extends the
    history, closing the previously live version, and a late
    OUT-OF-ORDER change slots into the timeline retroactively."""
    from air_quality_etl_pipeline_spark.plans.merge import apply_cdc_scd2

    schema = "k long, seq long, op string, v string"
    feed = spark.createDataFrame(
        [
            (1, 1, "upsert", "a1"),
            (1, 4, "upsert", "a4"),
            (2, 2, "upsert", "b2"),
            (2, 6, "delete", None),  # key 2 ends closed (tail delete)
        ],
        schema,
    )
    h1 = apply_cdc_scd2(None, feed, ["k"], seq_col="seq", op_col="op")
    rows1 = sorted(
        (r["k"], r["v"], r["__START_AT"], r["__END_AT"])
        for r in h1.collect()
    )
    assert rows1 == [(1, "a1", 1, 4), (1, "a4", 4, None), (2, "b2", 2, 6)]

    def rows_of(df):
        return sorted(
            (r["k"], r["v"], r["__START_AT"], r["__END_AT"])
            for r in df.collect()
        )

    # replay the full feed / a prefix / duplicated rows: all no-ops
    for replay in (
        feed,
        feed.limit(2),
        feed.unionByName(feed),
    ):
        h2 = apply_cdc_scd2(
            h1, replay, ["k"], seq_col="seq", op_col="op"
        )
        assert rows_of(h2) == rows1
    # the closed-tail delete must NOT resurrect on payload-less replay
    # (the regenerated tombstone carries NULL payload; interval set is
    # what matters) — covered by the full-feed case above. A NEW
    # change extends: key 1 updates at 9 (closes a4), key 2 reappears
    new = spark.createDataFrame(
        [(1, 9, "upsert", "a9"), (2, 8, "upsert", "b8")], schema
    )
    h3 = apply_cdc_scd2(h1, new, ["k"], seq_col="seq", op_col="op")
    assert rows_of(h3) == [
        (1, "a1", 1, 4),
        (1, "a4", 4, 9),
        (1, "a9", 9, None),
        (2, "b2", 2, 6),
        (2, "b8", 8, None),
    ]
    # late out-of-order change: slots in retroactively
    late = spark.createDataFrame([(1, 2, "upsert", "a2")], schema)
    h4 = apply_cdc_scd2(h3, late, ["k"], seq_col="seq", op_col="op")
    assert rows_of(h4) == [
        (1, "a1", 1, 2),
        (1, "a2", 2, 4),
        (1, "a4", 4, 9),
        (1, "a9", 9, None),
        (2, "b2", 2, 6),
        (2, "b8", 8, None),
    ]


def test_duplicate_query_registration_raises():
    """register() must refuse a name that is already registered — a
    silent overwrite detaches the name from its driver receipts
    (round 8: a new 'cdc_apply_latest' nearly shadowed the round-5
    log-replay query of the same name)."""
    from air_quality_etl_pipeline_spark.workload import QUERIES, register

    existing = next(iter(QUERIES))
    with pytest.raises(ValueError, match="already registered"):
        register(existing, None)(lambda spark, sf: None)


# --- apply_cdc_scd2 property test vs a pure-Python reference --------

def _ref_scd2(events):
    """Independent SCD-2 interval builder: per key, dedupe (key, seq)
    by max (op, payload), order by seq, emit [seq, next_seq) for
    non-deletes, NULL end for the last event when it isn't a delete.
    A delete preceded by nothing (or only another delete) closed no
    version → degenerate NULL-payload tombstone row [seq, seq]."""
    from collections import defaultdict

    best = {}
    for k, seq, op, v in events:
        cand = (op or "", v if v is not None else "")
        prev = best.get((k, seq))
        # total order mirror: None sorts lowest (Spark struct max with
        # NULL payload loses to any non-NULL)
        key = (op or "", v is not None, v or "")
        if prev is None or key > prev[0]:
            best[(k, seq)] = (key, op, v)
    per_key = defaultdict(list)
    for (k, seq), (_, op, v) in best.items():
        per_key[k].append((seq, op, v))
    out = []
    for k, evs in per_key.items():
        evs.sort()
        for i, (seq, op, v) in enumerate(evs):
            nxt = evs[i + 1][0] if i + 1 < len(evs) else None
            if op != "delete":
                out.append((k, v, seq, nxt))
            elif i == 0 or evs[i - 1][1] == "delete":
                out.append((k, None, seq, seq))
    return sorted(out, key=str)


_scd2_event = st.tuples(
    st.integers(0, 3),                          # key (small → collisions)
    st.integers(0, 5),                          # seq (dups likely)
    st.sampled_from(["upsert", "delete"]),
    st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    feed=st.lists(_scd2_event, min_size=1, max_size=14),
    split_at=st.integers(0, 14),
)
def test_apply_cdc_scd2_property_matches_reference(spark, feed, split_at):
    """Random feeds with duplicate (key, seq) deliveries, deletes, and
    NULL payloads: (1) the one-shot apply matches the independent
    interval builder, (2) applying a random SPLIT of the feed in two
    steps (second step onto the first step's history) lands on the
    SAME history — associativity over history rebuilds, the property
    the retry/idempotence guarantee rests on."""
    from air_quality_etl_pipeline_spark.plans.merge import apply_cdc_scd2

    schema = "k long, seq long, op string, v string"
    split_at = min(split_at, len(feed))

    def spark_rows(df):
        return sorted(
            (
                (r["k"], r["v"], r["__START_AT"], r["__END_AT"])
                for r in df.collect()
            ),
            key=str,
        )

    full = spark.createDataFrame(feed, schema)
    h_once = apply_cdc_scd2(None, full, ["k"], seq_col="seq", op_col="op")
    want = _ref_scd2(feed)
    assert spark_rows(h_once) == want
    # two-step apply: first slice from empty, second onto the history
    a, b = feed[:split_at], feed[split_at:]
    h = None
    if a:
        h = apply_cdc_scd2(
            None, spark.createDataFrame(a, schema), ["k"],
            seq_col="seq", op_col="op",
        ).localCheckpoint(eager=True)
    if b:
        h = apply_cdc_scd2(
            h, spark.createDataFrame(b, schema), ["k"],
            seq_col="seq", op_col="op",
        )
    assert spark_rows(h) == want


def _ref_scd2_track(events):
    """Independent SCD-2 builder with TRACK HISTORY ON the first
    payload column (city): dedupe (key, seq) by the op-blind total
    order max(not_delete, city, phone, op); per key in seq order,
    consecutive non-deletes with an unchanged city merge into one RUN
    — one version per run, city from the run's first event, phone
    from its LAST, start at the first seq, end at the first seq after
    the run; deletes close runs and naked deletes leave [seq, seq]
    tombstones."""
    from collections import defaultdict

    best = {}
    for k, seq, op, city, phone in events:
        key = (
            op != "delete",
            city is not None, city or "",
            phone is not None, phone or "",
            op or "",
        )
        prev = best.get((k, seq))
        if prev is None or key > prev[0]:
            best[(k, seq)] = (key, op, city, phone)
    per_key = defaultdict(list)
    for (k, seq), (_, op, city, phone) in best.items():
        per_key[k].append((seq, op, city, phone))
    out = []
    for k, evs in per_key.items():
        evs.sort()
        run = None  # (start, city, phone)
        prev_op = None
        for seq, op, city, phone in evs:
            if op == "delete":
                if run is not None:
                    out.append((k, run[1], run[2], run[0], seq))
                    run = None
                elif prev_op is None or prev_op == "delete":
                    out.append((k, None, None, seq, seq))
            elif run is None:
                run = (seq, city, phone)
            elif not (run[1] == city):
                out.append((k, run[1], run[2], run[0], seq))
                run = (seq, city, phone)
            else:
                run = (run[0], run[1], phone)  # absorb: last phone
            prev_op = op
        if run is not None:
            out.append((k, run[1], run[2], run[0], None))
    return sorted(out, key=str)


_scd2t_event = st.tuples(
    st.integers(0, 2),                          # key
    st.integers(0, 6),                          # seq
    st.sampled_from(["upsert", "delete"]),
    st.one_of(st.none(), st.sampled_from(["x", "y"])),   # city (tracked)
    st.one_of(st.none(), st.sampled_from(["p", "q"])),   # phone (untracked)
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(feed=st.lists(_scd2t_event, min_size=1, max_size=14))
def test_apply_cdc_scd2_track_history_property(spark, feed):
    """Random feeds (duplicate (key, seq) cells, deletes, NULL tracked
    AND untracked values): one-shot apply with track_history_on
    matches the independent run-merging reference."""
    from air_quality_etl_pipeline_spark.plans.merge import apply_cdc_scd2

    schema = "k long, seq long, op string, city string, phone string"
    h = apply_cdc_scd2(
        None,
        spark.createDataFrame(feed, schema),
        ["k"],
        seq_col="seq",
        op_col="op",
        track_history_on=["city"],
    )
    got = sorted(
        (
            (r["k"], r["city"], r["phone"], r["__START_AT"], r["__END_AT"])
            for r in h.collect()
        ),
        key=str,
    )
    assert got == _ref_scd2_track(feed)


def test_apply_cdc_scd2_replay_priority_regression(spark):
    """Replay must not rewrite the winner at a conflicting (key, seq):
    the op-blind total-order ``max`` compares history twins and
    redelivered feed events purely on payload, so they compare EQUAL
    to the already-applied winner and a stale redelivery whose payload
    sorts lower can never displace it — two-step apply stays identical
    to one-shot. (An earlier design used a '_prio' priority bit to the
    same end; this pins the invariant, not the mechanism.)"""
    from air_quality_etl_pipeline_spark.plans.merge import apply_cdc_scd2

    schema = "k long, seq long, op string, v string"
    a = spark.createDataFrame([(1, 5, "upsert", "b")], schema)
    b = spark.createDataFrame([(1, 5, "upsert", "a")], schema)
    one_shot = apply_cdc_scd2(
        None, a.unionByName(b), ["k"], seq_col="seq", op_col="op"
    )
    h1 = apply_cdc_scd2(None, a, ["k"], seq_col="seq", op_col="op")
    two_step = apply_cdc_scd2(h1, b, ["k"], seq_col="seq", op_col="op")
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert rows(one_shot) == rows(two_step) == [(1, "b", 5, None)]


def test_apply_cdc_scd2_track_history_on(spark):
    """DLT's TRACK HISTORY ON (cols): a new version opens only when a
    TRACKED column changes (or the key returns after a delete);
    untracked-only changes are absorbed, the current version keeping
    the LAST change's untracked values (update-in-place). Replay of
    the full feed onto the produced history is a no-op even though
    absorbed events are not represented in it."""
    from air_quality_etl_pipeline_spark.plans.merge import apply_cdc_scd2

    schema = "k long, seq long, op string, city string, phone string"
    feed = spark.createDataFrame(
        [
            (1, 1, "upsert", "ams", "p1"),
            (1, 2, "upsert", "ams", "p2"),   # untracked-only: absorbed
            (1, 4, "upsert", "rtm", "p2"),   # tracked change: new ver
            (1, 6, "delete", None, None),    # closes
            (1, 8, "upsert", "rtm", "p9"),   # re-insert after delete:
            (2, 3, "upsert", "utr", "q1"),   #   new ver despite same city
            (2, 5, "upsert", "utr", "q2"),   # absorbed (phone only)
        ],
        schema,
    )
    kw = dict(seq_col="seq", op_col="op", track_history_on=["city"])
    hist = apply_cdc_scd2(None, feed, ["k"], **kw)

    def rows(df):
        return sorted(
            (r["k"], r["city"], r["phone"], r["__START_AT"], r["__END_AT"])
            for r in df.collect()
        )

    got = rows(hist)
    assert got == [
        (1, "ams", "p2", 1, 4),   # absorbed p1->p2, span to tracked change
        (1, "rtm", "p2", 4, 6),   # closed by the delete
        (1, "rtm", "p9", 8, None),  # re-opened after delete, same city
        (2, "utr", "q2", 3, None),  # live, last phone wins in place
    ]
    # replay the full feed (absorbed events included) onto the history
    replay = apply_cdc_scd2(hist, feed, ["k"], **kw)
    assert rows(replay) == got
    # a NEW untracked-only change updates the LIVE version in place
    upd = spark.createDataFrame([(2, 7, "upsert", "utr", "q7")], schema)
    h2 = apply_cdc_scd2(hist, upd, ["k"], **kw)
    assert rows(h2) == [r if r[0] != 2 else (2, "utr", "q7", 3, None) for r in got]
    # validation: unknown / empty tracked lists
    with pytest.raises(ValueError, match="not in the payload"):
        apply_cdc_scd2(None, feed, ["k"], seq_col="seq", op_col="op",
                       track_history_on=["nope"])
    with pytest.raises(ValueError, match="at least one column"):
        apply_cdc_scd2(None, feed, ["k"], seq_col="seq", op_col="op",
                       track_history_on=[])
