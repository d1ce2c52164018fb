"""Incremental upsert (MERGE) semantics — pure-Spark formulation.

The reference's automated path upserts dims and fact with Delta
``MERGE ... WHEN NOT MATCHED INSERT`` after an anti-join and a
high-water-mark re-key (``Notebooks/Automated_Silver_to_Gold.Notebook/
notebook-content.py:271-394``). Delta isn't a hard dependency here: the
insert-if-absent MERGE is exactly ``target ∪ (source ⟕anti target)``,
which we implement with built-ins; when ``delta-spark`` is importable
the same API routes to a real ``DeltaTable.merge``.

Scale notes: the anti-join shuffles on the natural key — same cost
class as MERGE's inner join; the high-water mark is a scalar agg
(one collect of one value, reference A3).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.plans.gold import surrogate_key


def high_water_mark(df: DataFrame, key_col: str) -> int:
    """A3 — ``agg(max(key)).collect()[0][0] or 0``."""
    v = df.agg(F.max(key_col)).first()[0]
    return int(v) if v is not None else 0


def new_rows(source: DataFrame, target: DataFrame, keys: Sequence[str]) -> DataFrame:
    """D3/J8 — rows of *source* whose natural key is absent from *target*."""
    return source.join(target.select(*keys), on=list(keys), how="left_anti")


def merge_insert_if_absent(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    surrogate: str | None = None,
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """K4 — insert-if-absent MERGE.

    Optionally re-keys the inserted rows with a surrogate continuing
    past the target's high-water mark (W2), like the reference's
    ``row_number().over(w) + max_key``.
    """
    fresh = new_rows(source, target, keys)
    if surrogate is not None:
        hwm = high_water_mark(target, surrogate)
        fresh = surrogate_key(fresh, order_by or list(keys), surrogate, offset=hwm)
    return target.unionByName(fresh.select(*target.columns))


def upsert_replace(
    target: DataFrame, source: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Full MERGE semantics — ``WHEN MATCHED UPDATE SET * / WHEN NOT
    MATCHED INSERT *`` — as pure Spark: source rows win wholesale on
    key match, unmatched target rows survive, unmatched source rows
    insert. Extends the reference's insert-only MERGE (K4) to the
    update case Delta expresses with ``whenMatchedUpdateAll``.

    ``source ∪ (target ⟕anti source)`` — ONE anti-join shuffle on the
    natural key (same cost class as MERGE's inner join) + a shuffle-free
    union. Requires *source* unique per key (standard MERGE
    precondition; enforce upstream with dedup_first when the feed may
    carry retractions)."""
    survivors = target.join(
        source.select(*keys), on=list(keys), how="left_anti"
    )
    return source.select(*target.columns).unionByName(survivors)


def merge_apply(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    when_matched: str | None = "update",
    matched_condition=None,
    when_not_matched: str | None = "insert",
    not_matched_condition=None,
    when_not_matched_by_source: str | None = None,
    not_matched_by_source_condition=None,
    matched_set: dict | None = None,
    not_matched_by_source_set: dict | None = None,
    matched_clauses: Sequence[dict] | None = None,
    not_matched_clauses: Sequence[dict] | None = None,
    not_matched_by_source_clauses: Sequence[dict] | None = None,
    schema_evolution: bool = False,
) -> DataFrame:
    """Delta Lake's full MERGE clause matrix as ONE pure-Spark plan —
    the general form of :func:`merge_insert_if_absent` (insert-only)
    and :func:`upsert_replace` (update+insert), written so a
    Delta-enabled cluster can swap in ``DeltaTable.merge`` behind the
    same call sites with identical results.

    Semantics per the documented matrix:

    * ``when_matched``: ``"update"`` (``WHEN MATCHED UPDATE SET *`` —
      the source row wins wholesale; pass ``matched_set`` for Delta's
      explicit-``SET`` form, ``{col: lambda t, s: expr}``, where
      UNLISTED columns keep their TARGET values), ``"delete"``, or
      ``None`` (keep the target row). ``matched_condition(t, s)``
      optionally gates the clause per row — unmatched-by-condition rows
      keep the target row, exactly Delta's fall-through.
    * ``when_not_matched``: ``"insert"`` (``WHEN NOT MATCHED INSERT
      *``) or ``None`` (drop the source-only row), gated by
      ``not_matched_condition(s)``.
    * ``when_not_matched_by_source``: ``"delete"``, ``"update"`` (takes
      ``not_matched_by_source_set`` — ``{col: lambda t: expr}``, only
      target columns visible, per Delta), or ``None`` (keep), gated by
      ``not_matched_by_source_condition(t)``.
    * Key equality is ``=`` (null keys never match either side), the
      join condition every reference MERGE uses.
    * ``matched_clauses``: Delta allows SEVERAL ordered conditional
      ``whenMatched`` clauses, first match wins. Pass a list of
      ``{"action": "update"|"delete", "condition": fn|None,
      "set": dict|None}`` to get that form; it overrides the
      single-clause ``when_matched``/``matched_condition``/
      ``matched_set`` trio (which normalizes to a one-element list).
      Per Delta's rule, every clause but the last must carry a
      condition (an unconditional clause makes later ones dead).
    * ``not_matched_clauses``: Delta's ordered conditional
      ``whenNotMatchedInsert`` list — ``{"condition": fn|None,
      "values": dict|None}`` per clause, first match wins per
      source-only row, no matching clause drops the row. ``values``
      is Delta's explicit ``INSERT (col) VALUES (expr)`` form,
      ``{col: lambda s: expr}`` with UNLISTED columns NULL (unlike
      UPDATE SET, there is no target row to inherit from); ``None``
      means ``INSERT *``. Overrides the legacy ``when_not_matched``/
      ``not_matched_condition`` pair.
    * ``not_matched_by_source_clauses``: same ordered form for the
      by-source side — ``{"action": "update"|"delete", "condition":
      fn|None, "set": dict|None}``; overrides the legacy trio.
    * Multiple matches: Delta errors when the same target row would
      ACTUALLY be modified by more than one source row
      (``DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW``) — matched
      source rows that no clause condition qualifies don't count, and
      multiple source rows on an UNMATCHED key all insert. The check
      is compiled into the returned plan as a ``raise_error`` branch,
      so it costs no action beyond the merge's own pass, and the
      error surfaces as Spark's ``USER_RAISED_EXCEPTION`` carrying
      ``MERGE_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW`` when the plan
      runs — when Delta's own ``.execute()`` raises it. A full
      evaluation (write, count, collect, aggregate) raises; a partial
      read (``limit``) sees only the rows it evaluates and may not.
    * ``schema_evolution``: Delta's ``withSchemaEvolution()`` —
      source columns ABSENT from the target are appended to the
      output schema (in source order, after the target's columns);
      pre-existing target rows, fall-through keeps, and
      by-source updates carry NULL there, while ``UPDATE SET *`` /
      ``INSERT *`` rows carry the source values. Target-only columns
      are untouched (source rows insert NULL there, as without
      evolution). Key columns must exist on both sides regardless.

    Condition callables receive struct columns (``t``, ``s``) so one
    expression can reference both sides, e.g.
    ``lambda t, s: s["updated_at"] > t["updated_at"]``.

    Scale: everything shuffles on the one natural key — the source
    key-dedup aggregate, the left join (target pass), and the
    anti-join (insert pass) share the same partitioning, so Spark
    reuses the exchange across them. The cost class is Delta
    MERGE's own join phase. At 100 TB both sides would be bucketed by
    the key so the joins run exchange-free.
    """
    src_orig_cols = list(source.columns)
    if schema_evolution:
        # Delta withSchemaEvolution(): widen the TARGET with the
        # source-only columns (as NULL of the source's type, appended
        # in source order); everything downstream — SET-* structs,
        # insert structs, NULL rows — then flows through the widened
        # schema unchanged. Source-side alignment to the widened
        # column set happens in the existing t_struct/insert logic,
        # which selects by target column name (source rows without a
        # target-only column get NULL there via the select below).
        src_types = {f.name: f.dataType for f in source.schema.fields}
        extra = [c for c in source.columns if c not in target.columns]
        for c in extra:
            target = target.withColumn(c, F.lit(None).cast(src_types[c]))
        missing_in_src = [c for c in target.columns if c not in source.columns]
        for c in missing_in_src:
            tgt_type = dict(
                (f.name, f.dataType) for f in target.schema.fields
            )[c]
            source = source.withColumn(c, F.lit(None).cast(tgt_type))
    tcols = list(target.columns)
    key_list = list(keys)
    if matched_clauses is None:
        matched_clauses = (
            []
            if when_matched is None
            else [
                {
                    "action": when_matched,
                    "condition": matched_condition,
                    "set": matched_set,
                }
            ]
        )
    clauses = [
        {
            "action": c["action"],
            "condition": c.get("condition"),
            "set": c.get("set"),
        }
        for c in matched_clauses
    ]
    if schema_evolution:
        # Delta's updateAll under withSchemaEvolution(): UPDATE SET *
        # expands over the source's ORIGINAL columns only — target
        # columns the source never had keep the TARGET value (only
        # insertAll fills NULL there). Without this, the NULL padding
        # above would leak into matched rows (round-8 advisor fix):
        # rewrite set=None as the equivalent explicit set map.
        set_star = {
            c: (lambda t, s, _c=c: s[_c])
            for c in src_orig_cols
            if c not in key_list
        }
        for c in clauses:
            if c["action"] == "update" and c["set"] is None:
                c["set"] = set_star
    for i, c in enumerate(clauses):
        if c["action"] not in ("update", "delete"):
            raise ValueError(f"unknown matched action {c['action']!r}")
        if c["condition"] is None and i < len(clauses) - 1:
            raise ValueError(
                "only the LAST whenMatched clause may be unconditional "
                "(Delta's rule; later clauses would be dead)"
            )
    if not_matched_clauses is None:
        not_matched_clauses = (
            []
            if when_not_matched is None
            else [{"condition": not_matched_condition, "values": None}]
        )
    nm_clauses = [
        {"condition": c.get("condition"), "values": c.get("values")}
        for c in not_matched_clauses
    ]
    if not_matched_by_source_clauses is None:
        not_matched_by_source_clauses = (
            []
            if when_not_matched_by_source is None
            else [
                {
                    "action": when_not_matched_by_source,
                    "condition": not_matched_by_source_condition,
                    "set": not_matched_by_source_set,
                }
            ]
        )
    nmbs_clauses = [
        {
            "action": c["action"],
            "condition": c.get("condition"),
            "set": c.get("set"),
        }
        for c in not_matched_by_source_clauses
    ]
    for label, lst in (
        ("whenNotMatched", nm_clauses),
        ("whenNotMatchedBySource", nmbs_clauses),
    ):
        for i, c in enumerate(lst):
            if c["condition"] is None and i < len(lst) - 1:
                raise ValueError(
                    f"only the LAST {label} clause may be unconditional "
                    "(Delta's rule; later clauses would be dead)"
                )
    for c in nmbs_clauses:
        if c["action"] not in ("update", "delete"):
            raise ValueError(
                f"unknown not-matched-by-source action {c['action']!r}"
            )
        if c["action"] == "update" and c["set"] is None:
            raise ValueError(
                "not-matched-by-source 'update' requires a set map "
                "(Delta's UPDATE SET form; there is no source row for "
                "SET *)"
            )

    def cond(c, *args):
        return F.lit(True) if c is None else c(*args)

    t_struct = F.struct(*[F.col(c) for c in tcols])

    def make_with_sets(field_types):
        def with_sets(base, sets, *cond_args):
            # Delta's explicit UPDATE SET form: listed columns take
            # their expression (cast to the target column's type, as
            # Delta's schema enforcement does), unlisted columns keep
            # the base (target) row's value
            return F.struct(
                *[
                    (
                        sets[c](*cond_args).cast(field_types[c]).alias(c)
                        if c in sets
                        else base[c].alias(c)
                    )
                    for c in tcols
                ]
            )

        return with_sets

    _raise_dup = F.raise_error(
        F.lit(
            "MERGE_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW: a target "
            "row would be modified by multiple source rows"
        )
    )

    # Route on the clauses alone: conditional clause lists take the
    # general (fan-out) path, exact for any duplicate profile (a
    # disqualified duplicate must neither error nor win). Without
    # conditions the cheap pre-aggregated path is exact: every matched
    # duplicate modifies, which IS Delta's error, raised in-plan by the
    # ``_n > 1`` guard. Insert-only merges need no guard (only key
    # EXISTENCE matters).
    if not any(c["condition"] is not None for c in clauses):
        fast_guard = bool(clauses)
        # FAST PATH — LEFT join against ONE source row per key
        # (min(struct) is exact, not a choice); the first-match-wins
        # clause chain evaluates directly on that single (t, s) pair.
        t = target.select(*key_list, t_struct.alias("_t"))
        s1 = (
            source.select(*key_list, t_struct.alias("_s"))
            .groupBy(*key_list)
            .agg(
                F.min("_s").alias("_s"),
                *([F.count(F.lit(1)).alias("_n")] if fast_guard else []),
            )
        )
        j = t.join(s1, on=key_list, how="left")
        ts, ss = F.col("_t"), F.col("_s")
        matched = ss.isNotNull()
        with_sets = make_with_sets(
            {f.name: f.dataType for f in j.schema["_t"].dataType.fields}
        )
        null_row = F.lit(None).cast(j.schema["_t"].dataType)
        chooser = None
        if fast_guard:
            # every clause here is UNCONDITIONAL, so a matched key with
            # >1 source rows is always modified twice — Delta's error,
            # raised from inside the merge's own pass
            chooser = F.when(matched & (F.col("_n") > 1), _raise_dup)
        for c in clauses:
            fires = matched & cond(c["condition"], ts, ss)
            if c["action"] == "update":
                val = ss if c["set"] is None else with_sets(ts, c["set"], ts, ss)
            else:
                val = null_row
            chooser = (
                F.when(fires, val)
                if chooser is None
                else chooser.when(fires, val)
            )
        # matched but no clause qualified (or no clauses) → keep
        keep_matched = F.when(matched, ts)
        chooser = (
            keep_matched if chooser is None else chooser.when(matched, ts)
        )
        base = j
    else:
        # GENERAL PATH — conditional and/or multiple ordered matched
        # clauses. The join may fan a target row out across several
        # source rows; per target row we pick the FIRST clause any
        # source row qualifies (min over (clause_idx, source)), and
        # the Delta check counts QUALIFYING source rows per target row
        # (>1 → error), not raw key duplicates — a matched source row
        # that no condition qualifies never modifies, so it never
        # errors (Delta-exact, round-8 advisor fix).
        t = target.select(*key_list, t_struct.alias("_t")).withColumn(
            "_tid", F.monotonically_increasing_id()
        )
        s2 = source.select(*key_list, t_struct.alias("_s"))
        j = t.join(s2, on=key_list, how="left")
        ts, ss = F.col("_t"), F.col("_s")
        matched = ss.isNotNull()
        ci = None
        for i, c in enumerate(clauses):
            fires = matched & cond(c["condition"], ts, ss)
            ci = (
                F.when(fires, F.lit(i))
                if ci is None
                else ci.when(fires, F.lit(i))
            )
        winner = F.when(
            ci.isNotNull(), F.struct(ci.alias("ci"), ss.alias("s"))
        )
        # group by (keys, tid), not tid alone: tid is already unique
        # per target row, and listing the join keys first lets the
        # aggregation's ClusteredDistribution be satisfied by the
        # fan-out join's existing hash partitioning on the key — no
        # second data-sized exchange (grouping by the opaque tid alone
        # re-shuffled the whole fan-out; measured 5.42x at x10 data,
        # 2.44x after this change — SCALE.md "MERGE", commit 09e074e)
        per_t = j.groupBy(*key_list, "_tid").agg(
            F.min("_t").alias("_t"),
            F.max(matched.cast("int")).alias("_m"),
            F.min(winner).alias("_w"),
            F.sum(F.when(ci.isNotNull(), 1).otherwise(0)).alias("_nq"),
        )
        with_sets = make_with_sets(
            {
                f.name: f.dataType
                for f in per_t.schema["_t"].dataType.fields
            }
        )
        null_row = F.lit(None).cast(per_t.schema["_t"].dataType)
        tt, win = F.col("_t"), F.col("_w")
        ts = tt
        # in-plan Delta error: >1 QUALIFYING source rows for this
        # target row (disqualified duplicates don't count)
        chooser = F.when(F.col("_nq") > 1, _raise_dup)
        for i, c in enumerate(clauses):
            hits = win.isNotNull() & (win["ci"] == i)
            if c["action"] == "update":
                val = (
                    win["s"]
                    if c["set"] is None
                    else with_sets(tt, c["set"], tt, win["s"])
                )
            else:
                val = null_row
            chooser = chooser.when(hits, val)
        # matched but no clause qualified → Delta fall-through: keep
        chooser = chooser.when(F.col("_m") == 1, tt)
        base = per_t
    # NOT MATCHED BY SOURCE: ordered first-match-wins clause chain over
    # the target-only rows (the earlier matched whens already captured
    # matched rows, so these whens only ever see unmatched ones)
    for c in nmbs_clauses:
        val = (
            null_row
            if c["action"] == "delete"
            else with_sets(ts, c["set"], ts)
        )
        chooser = chooser.when(cond(c["condition"], ts), val)
    chooser = chooser.otherwise(ts)
    kept = (
        base.select(chooser.alias("_r"))
        .filter(F.col("_r").isNotNull())
        .select(*[F.col("_r")[c].alias(c) for c in tcols])
    )
    # Insert pass: ALL source rows on unmatched keys (duplicates all
    # insert, per Delta), straight from the raw source via anti-join;
    # ordered first-match-wins over the insert clauses, no matching
    # clause drops the row. Explicit VALUES maps leave unlisted
    # columns NULL (Delta's INSERT (cols) VALUES form).
    if nm_clauses:
        fresh = source.join(
            target.select(*key_list), on=key_list, how="left_anti"
        )
        s_struct = F.struct(*[F.col(c) for c in tcols])
        tgt_types = {f.name: f.dataType for f in target.schema.fields}
        ins = None
        for c in nm_clauses:
            if c["values"] is None:
                val = s_struct
            else:
                val = F.struct(
                    *[
                        (
                            c["values"][col](s_struct)
                            .cast(tgt_types[col])
                            .alias(col)
                            if col in c["values"]
                            else F.lit(None).cast(tgt_types[col]).alias(col)
                        )
                        for col in tcols
                    ]
                )
            w = cond(c["condition"], s_struct)
            ins = F.when(w, val) if ins is None else ins.when(w, val)
        inserted = (
            fresh.select(ins.alias("_i"))
            .filter(F.col("_i").isNotNull())
            .select(*[F.col("_i")[c].alias(c) for c in tcols])
        )
        kept = kept.unionByName(inserted)
    return kept


def apply_cdc(
    target: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    op_col: str,
    delete_op: str = "delete",
) -> DataFrame:
    """CDC apply with latest-wins semantics — Delta Live Tables'
    ``APPLY CHANGES INTO`` (SCD type 1): per key, the change with the
    highest *seq_col* decides; a *delete_op* change drops the key,
    anything else upserts the change's payload columns (update if the
    key exists, insert if not). Out-of-order and superseded changes
    are absorbed by the sequence, which is what makes replaying a CDC
    feed idempotent.

    Determinism: the winner is ``max(struct(seq, payload...))`` — a
    TOTAL order over all change columns, so even duplicate sequence
    numbers resolve the same way on every engine and partition order
    (with unique ``(keys, seq)``, it is exactly max-by-sequence).

    Scale: ONE shuffle on the key for the winner aggregate (map-side
    partial max keeps it key-cardinality-sized), and the anti-join
    reuses that partitioning; nothing is corpus² and no window is
    involved. At 100 TB the change feed aggregates before it ever
    meets the (bucketed) target.
    """
    return cdc_snapshot(
        target, cdc_winners(changes, keys, seq_col, op_col), keys, op_col,
        delete_op,
    )


def cdc_winners(
    changes: DataFrame, keys: Sequence[str], seq_col: str, op_col: str
) -> DataFrame:
    """Per key, the winning change ``max(struct(seq, payload...))``,
    unpacked to the change columns (keys, *seq_col*, op, payload): the
    winner step of :func:`apply_cdc` and of the streaming twin's
    compacted-changelog fold (``streaming/jobs.cdc_state_update``)."""
    key_list = list(keys)
    rest = [c for c in changes.columns if c not in {*key_list, seq_col}]
    if op_col not in rest:
        raise ValueError(f"op_col {op_col!r} must be a changes column")
    return (
        changes.groupBy(*key_list)
        .agg(
            F.max(
                F.struct(F.col(seq_col), *[F.col(c) for c in rest])
            ).alias("_c")
        )
        .select(
            *key_list,
            *[F.col(f"_c.{c}").alias(c) for c in [seq_col, *rest]],
        )
    )


def cdc_snapshot(
    target: DataFrame,
    winners: DataFrame,
    keys: Sequence[str],
    op_col: str,
    delete_op: str = "delete",
) -> DataFrame:
    """SCD-1 snapshot of *target* after the :func:`cdc_winners`
    *winners*: target rows the feed never spoke for survive (anti-join
    on the keys), and every non-delete winner upserts its payload."""
    key_list = list(keys)
    kept = target.join(
        winners.select(*key_list), on=key_list, how="left_anti"
    )
    ups = winners.filter(F.col(op_col) != F.lit(delete_op))
    return kept.unionByName(ups.select(*target.columns))


def apply_cdc_scd2(
    target_history: DataFrame | None,
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    op_col: str,
    delete_op: str = "delete",
    start_col: str = "__START_AT",
    end_col: str = "__END_AT",
    track_history_on: Sequence[str] | None = None,
) -> DataFrame:
    """CDC apply with full history — Delta Live Tables' ``APPLY
    CHANGES INTO ... STORED AS SCD TYPE 2``: every change opens a new
    version row stamped ``[start_col, end_col)`` from the sequence
    column; the next change (of any op) closes it; a *delete_op*
    change closes the current version without opening one; the live
    version has ``end_col`` NULL. Out-of-order changes slot into the
    timeline retroactively (DLT re-orders on the sequence column).

    A delete that closed NO version (first surviving event for its
    key, or preceded only by another delete) is emitted as a
    degenerate TOMBSTONE row — NULL payload, ``start_col == end_col``
    — because it still constrains the timeline: an even-later-arriving
    upsert with a LOWER sequence number must be closed by it. DLT
    keeps exactly this in pipeline state (tombstone retention for
    out-of-order data, the ``pipelines.cdc.tombstoneGCThresholdInSeconds``
    knob); a stateless history rebuild has no side state, so the
    tombstone lives in the table. Consumers wanting only real versions
    filter ``start_col != end_col`` (real versions always have
    ``end_col`` NULL or strictly greater — sequence values are unique
    per key after dedup).

    *target_history* is a prior output of this function (payload
    columns + the two stamp columns) or ``None`` for a first load.
    Rather than patching intervals in place, the history is
    RE-DERIVED: existing versions are turned back into upsert events
    at their ``start_col`` (plus a tombstone at the tail ``end_col``
    when a key's last version is closed — that closure can only have
    come from a delete), unioned with the incoming changes, deduped
    per ``(keys, seq)`` by a TOTAL order, and the intervals rebuilt
    with one ``lead()`` window. The dedup order is OP-STRING-BLIND:
    ``max(struct(is_not_delete, payload..., op))`` — all non-delete
    ops are equivalent (they all mean upsert), so a history-derived
    event (op ``__upsert__``) compares exactly like the original feed
    event it stands for. That makes the per-``(key, seq)`` winner a
    plain associative ``max`` over every event ever delivered,
    regardless of how deliveries were sliced into batches (an
    op-string-sensitive order would let a feed event outvote its own
    history twin, or vice versa — both caught by the
    two-step-vs-one-shot property test). Together with the
    tombstone rows, applying a feed in ANY batch slicing — including
    out-of-order slices where a delete lands batches before a
    lower-sequence upsert — converges to the one-shot history, and
    replaying any slice of an applied feed is a no-op by construction
    (the idempotency and out-of-order handling DLT documents for
    APPLY CHANGES).

    *track_history_on* — DLT's ``TRACK HISTORY ON (cols)``: when set,
    a new version opens ONLY when one of the listed (tracked) columns
    changes (or the key re-appears after a delete); changes touching
    only untracked columns are absorbed into the current version,
    which keeps the LAST such change's untracked values (DLT's
    update-in-place for non-history columns). ``None`` (default)
    tracks everything — every surviving change is a version.

    Incremental-rebuild contract under *track_history_on*: absorbing
    an event erases its ``(seq, untracked)`` provenance from the
    history, so a LATER batch delivering a brand-new event with a
    sequence BELOW an already-absorbed event's cannot be sliced into
    the timeline exactly — the rebuild sees only the run's start and
    last-untracked values. Exact cases: one-shot application,
    redelivery/replay of already-applied events under any slicing
    (replayed events dedup against their history twins), and batches
    whose first-delivery sequences are non-decreasing per key (the
    ordered-feed streaming case). For out-of-order FIRST deliveries,
    rebuild from the full event log instead —
    ``streaming/jobs.run_cdc_scd2_stream`` keeps exactly that log, so
    its history is a one-shot apply and always exact. (DLT has the
    same requirement: out-of-order tolerance there comes from events
    retained in pipeline state, not from the SCD-2 table.) Without
    *track_history_on* no event is ever absorbed — every surviving
    event IS a version row — so none of this applies and any slicing
    converges, as documented above.

    Scale: one explicit repartition on the key; the ``(keys, seq)``
    dedup aggregate, the per-key windows, and the run aggregate all
    ride that exchange (hash partitioning on a subset satisfies every
    required clustering), so the rebuild is ONE shuffle end-to-end
    and every partition holds whole keys. Versions per key are
    change-feed bounded — no data-sized window. At 100 TB the feed
    and history would be bucketed by the key, making even that
    shuffle free.
    """
    from pyspark.sql.window import Window

    key_list = list(keys)
    rest = [c for c in changes.columns if c not in {*key_list, seq_col}]
    if op_col not in rest:
        raise ValueError(f"op_col {op_col!r} must be a changes column")
    payload = [c for c in rest if c != op_col]
    if track_history_on is not None:
        if not list(track_history_on):
            raise ValueError(
                "track_history_on must list at least one column "
                "(None tracks everything)"
            )
        bad = [c for c in track_history_on if c not in payload]
        if bad:
            raise ValueError(
                f"track_history_on columns not in the payload: {bad}"
            )
    events = changes.select(*key_list, seq_col, op_col, *payload)
    if target_history is not None:
        # start == end marks a naked-tombstone row (see docstring) —
        # it re-enters the rebuild as a DELETE event, never an upsert
        hist_naked = F.col(end_col).eqNullSafe(F.col(start_col))
        # versions → upsert events at their start stamp (op-blind
        # dedup order means '__upsert__' ranks exactly like the feed
        # event it replays)
        reopened = target_history.filter(~hist_naked).select(
            *key_list,
            F.col(start_col).alias(seq_col),
            F.lit("__upsert__").alias(op_col),
            *payload,
        )
        naked_tombstones = target_history.filter(hist_naked).select(
            *key_list,
            F.col(start_col).alias(seq_col),
            F.lit(delete_op).alias(op_col),
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in target_history.schema.fields
                if f.name in payload
            ],
        )
        # A closed version whose end stamp is NOT some same-key
        # version's start was closed by a DELETE at that stamp (an
        # upsert would have opened the next version right there) —
        # regenerate the tombstone, or the gap would silently heal on
        # rebuild. Covers both mid-history deletes (delete then later
        # re-insert) and the closed tail.
        tombstones = (
            target_history.filter(
                F.col(end_col).isNotNull() & ~hist_naked
            )
            .select(*key_list, F.col(end_col).alias(seq_col))
            .join(
                target_history.select(
                    *key_list, F.col(start_col).alias(seq_col)
                ),
                on=[*key_list, seq_col],
                how="left_anti",
            )
            .select(
                *key_list,
                F.col(seq_col),
                F.lit(delete_op).alias(op_col),
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in target_history.schema.fields
                    if f.name in payload
                ],
            )
        )
        events = (
            events.unionByName(reopened)
            .unionByName(tombstones)
            .unionByName(naked_tombstones)
        )
    # ONE exchange: the (keys, seq) dedup and every per-key window /
    # aggregate below are all satisfied by hash partitioning on the
    # key alone
    events = events.repartition(*[F.col(c) for c in key_list])
    # op-string-BLIND total order (docstring): non-delete beats delete,
    # then the payload (NULL lowest, Spark struct ordering), the op
    # string only as a final tie-break between equivalent events — so a
    # history-derived '__upsert__' compares exactly like the feed event
    # it replays and the per-(key, seq) winner is a plain associative
    # max over every event ever delivered.
    not_del = (~F.col(op_col).eqNullSafe(F.lit(delete_op))).cast("int")
    deduped = (
        events.groupBy(*key_list, seq_col)
        .agg(
            F.max(
                F.struct(
                    not_del.alias("_nd"),
                    *[F.col(c) for c in payload],
                    F.col(op_col),
                )
            ).alias("_e")
        )
        .select(
            *key_list,
            seq_col,
            F.col(f"_e.{op_col}").alias(op_col),
            *[F.col(f"_e.{c}").alias(c) for c in payload],
        )
    )
    w = Window.partitionBy(*key_list).orderBy(F.col(seq_col))
    types = dict((f.name, f.dataType) for f in changes.schema.fields)
    seq_type = types[seq_col]
    is_del = F.col(op_col) == F.lit(delete_op)
    prev_op = F.lag(op_col).over(w)
    # a delete preceded by nothing (or only another delete) closed no
    # version — keep it as a degenerate [seq, seq] tombstone row
    naked = is_del & (prev_op.isNull() | (prev_op == F.lit(delete_op)))
    if track_history_on is None:
        stamped = deduped.select(
            *key_list,
            op_col,
            *payload,
            F.col(seq_col),
            F.lead(seq_col).over(w).alias("_nxt"),
            naked.alias("_naked"),
        ).filter(~is_del | F.col("_naked"))
        return stamped.select(
            *key_list,
            *[
                F.when(F.col("_naked"), F.lit(None).cast(types[c]))
                .otherwise(F.col(c))
                .alias(c)
                for c in payload
            ],
            F.col(seq_col).cast(seq_type).alias(start_col),
            F.when(F.col("_naked"), F.col(seq_col))
            .otherwise(F.col("_nxt"))
            .cast(seq_type)
            .alias(end_col),
        )
    # TRACK HISTORY ON: group consecutive upserts whose tracked
    # columns are unchanged into RUNS; one version per run — start at
    # the run's first event, end at the first event AFTER the run
    # (lead of the run's last event), tracked columns from the run
    # (constant within it), untracked columns from the run's LAST
    # event. Deletes never join runs but do break them and close them.
    tracked = list(track_history_on)
    untracked = [c for c in payload if c not in tracked]
    tr = F.struct(*[F.col(c) for c in tracked])
    starts = ~is_del & (
        prev_op.isNull()
        | (prev_op == F.lit(delete_op))
        | ~tr.eqNullSafe(F.lag(tr).over(w))
    )
    cum = (
        Window.partitionBy(*key_list)
        .orderBy(F.col(seq_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = deduped.select(
        *key_list,
        seq_col,
        op_col,
        *payload,
        F.lead(seq_col).over(w).alias("_nxt"),
        F.sum(starts.cast("int")).over(cum).alias("_run"),
    ).filter(~is_del)
    last = F.max(F.struct(F.col(seq_col), F.col("_nxt"))).alias("_last")
    first = F.min(
        F.struct(F.col(seq_col), *[F.col(c) for c in tracked])
    ).alias("_first")
    last_u = F.max(
        F.struct(F.col(seq_col), *[F.col(c) for c in untracked])
    ).alias("_lastu")
    runs = (
        ev.groupBy(*key_list, "_run")
        .agg(first, last, last_u)
        .select(
            *key_list,
            *[
                (
                    F.col(f"_first.{c}")
                    if c in tracked
                    else F.col(f"_lastu.{c}")
                ).alias(c)
                for c in payload
            ],
            F.col(f"_first.{seq_col}").cast(seq_type).alias(start_col),
            F.col("_last._nxt").cast(seq_type).alias(end_col),
        )
    )
    # same degenerate tombstone rows as the untracked path — a naked
    # delete constrains later lower-seq arrivals here too
    naked_rows = (
        deduped.select(
            *key_list, F.col(seq_col), naked.alias("_naked")
        )
        .filter("_naked")
        .select(
            *key_list,
            *[F.lit(None).cast(types[c]).alias(c) for c in payload],
            F.col(seq_col).cast(seq_type).alias(start_col),
            F.col(seq_col).cast(seq_type).alias(end_col),
        )
    )
    return runs.unionByName(naked_rows)


def table_diff(
    v1: DataFrame,
    v2: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Snapshot diff (the CDC primitive): classify every key as
    ``added`` / ``removed`` / ``changed`` between two versions of a
    table. Returns ``(*keys, diff_status)`` for keys that differ;
    unchanged keys are dropped.

    One full-outer join on the key plus an md5 over the compared
    columns on each side — change detection costs one hash per row,
    not a column-by-column comparison, and the join is the only
    shuffle. At 100 TB both snapshots would be bucketed by the key so
    the join runs exchange-free; the hash trick is what keeps the
    comparison O(1) per row regardless of column count.

    The row encoding is INJECTIVE and null-safe (each component is a
    null marker or a length-prefixed value), so values migrating
    between columns or NULLs appearing can never alias an unchanged
    row — the ``concat_ws`` separator encoding this replaces silently
    SKIPPED NULLs and let a separator inside a value collide across
    columns (the same defect class the round-8 advisor flagged on the
    dedup clone fingerprint).
    """
    cols = list(
        compare_cols
        if compare_cols is not None
        else [c for c in v1.columns if c not in set(keys)]
    )

    def _enc(c: str):
        col = F.col(c).cast("string")
        return F.when(col.isNull(), F.lit("N")).otherwise(
            F.concat(
                F.lit("V"),
                F.lpad(F.length(col).cast("string"), 10, "0"),
                col,
            )
        )

    def hashed(df: DataFrame, h: str) -> DataFrame:
        return df.select(
            *keys,
            F.md5(F.concat(*[_enc(c) for c in cols])).alias(h),
        )

    j = hashed(v1, "_h1").join(hashed(v2, "_h2"), on=list(keys), how="full_outer")
    status = (
        F.when(F.col("_h1").isNull(), F.lit("added"))
        .when(F.col("_h2").isNull(), F.lit("removed"))
        .when(F.col("_h1") != F.col("_h2"), F.lit("changed"))
    )
    return (
        j.withColumn("diff_status", status)
        .filter(F.col("diff_status").isNotNull())
        .select(*keys, "diff_status")
    )


def merge_into_table(
    spark,
    table: str,
    source: DataFrame,
    keys: Sequence[str],
) -> None:
    """MERGE into a catalog table: Delta ``merge`` when available,
    anti-join + append otherwise (identical insert-if-absent result).
    Both branches match keys with ``=``, like every MERGE in this
    module: a NULL-key source row never matches, so it inserts on
    every run.

    The fallback triggers ONLY when Delta is genuinely unusable —
    ``delta-spark`` not importable, or the target not a Delta table
    (``DeltaTable.forName`` raises ``AnalysisException``). A real
    Delta MERGE failure (concurrent-write conflict, multiple source
    matches, schema mismatch) propagates: silently degrading it to an
    append would hide a data bug behind a duplicate insert."""
    try:
        from delta.tables import DeltaTable  # type: ignore
    except ImportError:
        DeltaTable = None
    dt = None
    if DeltaTable is not None:
        from pyspark.errors import AnalysisException

        try:
            dt = DeltaTable.forName(spark, table)
        except AnalysisException:
            dt = None  # catalog table exists but is not Delta-backed
    if dt is not None:
        cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        (
            dt.alias("t")
            .merge(source.alias("s"), cond)
            .whenNotMatchedInsertAll()
            .execute()
        )
        return
    target = spark.table(table)
    new_rows(source, target, keys).write.mode("append").saveAsTable(table)
