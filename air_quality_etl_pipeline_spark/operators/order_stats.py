"""Exact distributed order statistics — global row numbers, ordered
running sums, and sequence-gap (gaps-and-islands) detection — WITHOUT
a single-partition global sort.

Spark's ``Window.orderBy(...)`` with no ``partitionBy`` moves every row
to ONE partition (the ``WindowExec: No Partition Defined`` warning):
correct at test scale, a non-starter at 100 TB. These operators keep
the exact semantics with a fused two-job formulation:

1. ONE aggregation job over the input: group by a cheap,
   DETERMINISTIC, DATA-INDEPENDENT quantization of the ordering key
   (one ``floor(log2(|x|)·4096)`` band — see :func:`_with_quant_key`)
   and fetch per-group ``(count, min(key), max(key), sum(value))``
   through one Arrow transfer. The summary's size is bounded by
   ``min(distinct keys, quantization universe)`` — the universe is a
   hard data-independent constant (≈ 8.6 × 10⁶ bands over the full
   double range; real keys populate a few hundred to a few tens of
   thousands, a few MB at worst on the driver — never proportional
   to the data);
2. on the driver (:class:`_Carve`): sort groups by their raw key
   range, MERGE any overlapping ranges into super-groups (see below),
   carve COUNT-BALANCED buckets (each targets ``n / num_ranges``
   rows — beats fixed-width ranges under skew: a heavy band caps its
   bucket at ``target + band`` rows instead of dragging neighbours
   along), and fold the ≤ ``num_ranges`` bucket bounds and exclusive
   offsets back into the plan as LITERALS; then rank / cumulate
   WITHIN each bucket with an ordinary partitioned window plus the
   offset.

Exactness does NOT rest on the quantizer: it rests on the range
merge. Equal keys always share a group (the quantizer is a pure
function), so distinct groups hold DISTINCT key sets; after merging
groups whose observed ``[min, max]`` ranges overlap, the surviving
super-groups hold provably DISJOINT, totally-ordered key ranges —
even if the quantizer misordered near-equal keys (libm ``log2`` is
only ~1-ulp accurate; we never rely on its monotonicity). Bucket
boundaries fall only on super-group boundaries, so the data-side
resolver — an O(num_ranges) sorted-array probe of the bucket-start
RAW minimums, which are strictly increasing by disjointness — agrees
exactly with the offsets computed from the carve. A bad quantizer
can only degrade bucket BALANCE, never correctness. Non-finite keys
(null / NaN / ±Inf) never enter the arithmetic: they take sentinel
groups ordered the way Spark orders them and route through explicit
WHEN branches to the bucket the carve placed them in.

The windowed pass therefore pays one cast plus ≤ ``num_ranges``
double compares per row — the quantization runs ONLY inside the
summary aggregation (once per row).

Cost shape: TWO passes over the input (summary aggregation, windowed
pass) and one data shuffle (the ``__obkt`` window exchange) — down
from three jobs in the round-4 formulation (min/max/count, bucket
totals, window): the quantized key needs no bounds, so the min/max
pass is gone. Round 5 briefly shipped a zero-collect variant that
kept the summary lazy (windows over the summary + broadcast join);
it measured ~2× SLOWER at sf0.1 (9.5 s vs 5.7 s for the seven
analytics queries) because the serial broadcast-build chain (scan →
shuffle → two single-partition window stages → broadcast) pays four
AQE query-stage latencies per operator use, and it put unpartitioned
summary windows back into executed plans, weakening the registry
fence. The collect formulation keeps the driver traffic bounded
(summary-sized, never data-sized) and the executed plan free of any
single-partition window — both properties the fences pin.

A 100 %-tied key still collapses to one bucket (forced by exactness:
ties must share a bucket) and only parallelism degrades, never
correctness.

The operators ``localCheckpoint`` the input by default
(``materialize=True``), lazily: the summary's ``toArrow()`` fills the
checkpoint and the query's own execution reads it. The two are
separate actions, and AQE reuses identical exchanges only within one
execution, so without the checkpoint the query's action runs the
input's whole subtree a second time. Re-measured cache-cleared with
the checkpoint removed (SCALE.md, "Global order statistics"): cold runs
of five of the six consumers measured there slow down 1.8–3.7× and
build plus cold by 0.13–0.75 s; record_breaking_orders, whose input is
a plain table scan, is within noise. Pass ``materialize=False`` when the
caller already checkpoints the input at the query level (padding_waste,
repeat_purchase) or the input is too large to materialize.
Correctness never depends on the flag: the bucket id is a pure
function of row values, so re-evaluation cannot disagree with
itself. ``localCheckpoint`` rather than ``.cache()`` deliberately —
Spark's cache manager matches by analyzed plan, so a cached input
would silently serve REBUILT copies of the same query (bench
honesty) and pile up entries; checkpointed blocks are owned by the
DataFrame and GC'd with it.

Monotonicity contract (callers): the bucket key must be numeric and
NON-STRICTLY monotone in the intended global order (``a ≺ b ⇒ key(a)
≤ key(b)``). Ties in the key land in the same group by construction,
and the within-bucket window applies the exact (total) ordering — so
lossy monotone keys are fine: a ``double`` cast of a decimal, or the
leading 60 bits of a hex digest for lexicographic string order.

Null keys: by default nulls quantize BELOW every value (Spark's
ascending windows order NULLS FIRST). Callers ranking DESCENDING via a
negated key must pass ``nulls_last=True`` when null keys are possible:
Spark's ``desc()`` default is NULLS LAST, so a null-key row belongs
globally last, not first (round-4 advisor note — no current caller can
produce a null key; the flag makes the contract explicit instead of
latent). NaN quantizes with +Infinity (Spark orders NaN above +Inf;
sharing a group is fine — the within-bucket window separates them).

Resolution note: the quantizer resolves ~2.4 × 10⁻⁴ RELATIVE key
width (2⁻¹² per octave — see :data:`_MANTISSA_BANDS`). Keys whose
entire span is narrower than that — e.g. timestamps covering less
than ~2 hours at epoch-seconds magnitude — collapse into few groups
and hence few buckets: exact always, but parallelism degrades.
Pre-shift such keys toward zero (``key − const``) to restore
resolution; none of the registered callers need it (their keys are
prices, counts, ids, md5 prefixes, or multi-month timestamps).

No reference-repo counterpart (the reference's engine sorts on one
node); this module exists so the analytics queries that NEED global
order — Gini, Pareto/ABC shares, position-based quantiles, sweep-line
concurrency, id-sequence audits, batch packing — survive a
1000-executor scale-up.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "with_global_rank",
    "with_running_sum",
    "with_running_max",
    "sequence_gaps",
    "hex_prefix_key",
]

#: Bands per octave: 2^12 → ~2.4e-4 relative resolution; universe =
#: ~2100 octaves × 4096 ≈ 8.6e6 possible bands per sign (hard,
#: data-independent bound on the summary relation). 4096/octave
#: balances summary cost against resolution: real keys populate at
#: most a few tens of thousands of bands, while a key spanning even
#: 1 % of one octave still yields ~40 bands — enough to balance the
#: default 32 buckets.
_MANTISSA_BANDS = 1 << 12

#: Offset added to the log2 band so every finite nonzero key's band is
#: strictly positive (subnormals bottom out at floor(−1074.99·4096) ≈
#: −4.41e6 > −1100·4096): positives map to +band, negatives to
#: −band−1, zero to 0, keeping sign order without collisions.
_BAND_OFFSET = 1100 * _MANTISSA_BANDS

#: Quantized-key sentinels. Finite keys map inside ±(1024+1100)·2^12 ≈
#: ±8.7e6; non-finite keys take literals strictly outside that range,
#: ordered the way Spark orders them: null < −Inf < finite < +Inf ≈ NaN
#: (NaN shares the +Inf group; the within-bucket window separates them).
_Q_INF = 20_000_000
_Q_NULL = 20_000_001


def _sum_type(dt):
    """The result type of Spark's SUM aggregate over *dt* — what the
    running sum and its grand total must be cast to so empty and
    non-empty inputs share one schema."""
    from pyspark.sql import types as T

    if isinstance(dt, T.DecimalType):
        return T.DecimalType(min(38, dt.precision + 10), dt.scale)
    if isinstance(
        dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        return T.LongType()
    return T.DoubleType()


def hex_prefix_key(col: Column) -> Column:
    """A bigint bucket key that is non-strictly monotone in the
    LEXICOGRAPHIC order of a lowercase hex string (e.g. an md5 digest):
    the leading 15 hex digits (60 bits) parsed as an integer. Equal
    prefixes collapse to one group; the within-bucket window breaks
    them with the full string."""
    return F.conv(F.substring(col, 1, 15), 16, 10).cast("bigint")


def _with_quant_key(
    df: DataFrame,
    key: Column,
    out: str = "__oq",
    nulls_last: bool = False,
) -> DataFrame:
    """Attach a bigint quantization of *key*: ``sign · (floor(log2(
    |x|) · 2¹²) + offset)`` — ONE log2, one multiply, one floor per
    row.

    This only needs to be a cheap, deterministic, bounded-universe
    function: equal keys always share a band (purity), and the carve's
    range merge (:class:`_Carve`) restores exact ordering even where
    libm ``log2``'s ~1-ulp error misorders near-equal keys across a
    band edge — so unlike the round-4/5 formulations there is no
    correction chain (``pow`` + two compare-and-adjust steps) to pay
    per row, and no monotonicity proof to carry. Non-finite keys and
    zero never reach the arithmetic: the sentinel guard routes them
    first (``log2(0)`` would be −Inf and ``log2(NaN)`` NaN — under
    ANSI mode the guarded branch keeps every path defined).

    Built as a CHAIN of intermediate columns, not one nested
    expression: Spark's subexpression elimination skips anything
    inside conditional branches, so a single CASE tree would
    re-evaluate ``log2`` per branch occurrence (measured: the
    nested-expression form cost the seven analytics queries ~25 % at
    sf0.1). CollapseProject keeps a non-cheap alias referenced more
    than once as its own projection, so whole-stage codegen binds
    each intermediate to a local evaluated ONCE per row.

    Nulls map below everything by default (ascending windows order
    NULLS FIRST); ``nulls_last=True`` maps them above everything for
    callers ranking descending via a negated key (Spark ``desc()``
    defaults to NULLS LAST)."""
    inf = float("inf")
    kd = key.cast("double")
    df = df.withColumn("__qk", kd)
    qk = F.col("__qk")
    df = df.withColumn(
        "__qsafe",
        F.when(
            qk.isNull()
            | F.isnan(qk)
            | (qk == F.lit(inf))
            | (qk == F.lit(-inf))
            | (qk == F.lit(0.0)),
            F.lit(1.0),
        ).otherwise(F.abs(qk)),
    )
    df = df.withColumn(
        "__qband",
        F.floor(F.log2("__qsafe") * F.lit(float(_MANTISSA_BANDS)))
        + F.lit(_BAND_OFFSET),
    )
    q_null = F.lit(_Q_NULL if nulls_last else -_Q_NULL)
    band = F.col("__qband")
    df = df.withColumn(
        out,
        F.when(qk.isNull(), q_null)
        .when(F.isnan(qk) | (qk == F.lit(inf)), F.lit(_Q_INF))
        .when(qk == F.lit(-inf), F.lit(-_Q_INF))
        .when(qk == F.lit(0.0), F.lit(0))
        .when(qk > 0, band)
        .otherwise(-band - F.lit(1))
        .cast("bigint"),
    )
    return df.drop("__qk", "__qsafe", "__qband")


class _Carve:
    """Driver-side phase 2 over the collected per-group summary
    (each row ``(__oq, count, min_key, max_key, *payload)``).

    1. Split sentinel groups (null / ±Inf-NaN) from finite ones.
    2. Sort finite groups by raw ``(min, max)`` and MERGE overlapping
       ranges into super-groups — distinct groups hold distinct key
       sets, so the merged ranges are provably disjoint and totally
       ordered regardless of quantizer quality.
    3. Order entries null-first (or last), −Inf, finite, +Inf/NaN —
       matching Spark's window order — and carve count-balanced
       buckets: each targets ``ceil(n / num_ranges)`` rows; an entry
       larger than the target gets its own bucket (ties must share a
       bucket — forced by exactness).

    Exposes everything the plan-side literals need: per-bucket
    exclusive count offsets, payload offsets (None-aware sums, so
    Decimal stays Decimal), strictly-increasing finite bucket bounds,
    sentinel-bucket ids, grand totals, and the per-bucket row lists
    (for :func:`sequence_gaps`' seam stitching)."""

    def __init__(self, rows, num_ranges, nulls_last=False):
        from operator import itemgetter

        q_null = _Q_NULL if nulls_last else -_Q_NULL
        sent = {}
        fin = []
        for r in rows:
            if abs(r[0]) >= _Q_INF:
                sent[r[0]] = r
            else:
                fin.append(r)
        fin.sort(key=itemgetter(2, 3))
        # entry: [count, fin_min|None, rows, sentinel_oq|None]
        entries: list[list] = []
        append = entries.append
        last_mx = None
        for r in fin:
            if last_mx is not None and r[2] <= last_mx:
                e = entries[-1]
                e[0] += r[1]
                e[2].append(r)
                if r[3] > last_mx:
                    last_mx = r[3]
            else:
                append([r[1], r[2], [r], None])
                last_mx = r[3]
        pre = []
        if not nulls_last and q_null in sent:
            r = sent[q_null]
            pre.append([r[1], None, [r], q_null])
        if -_Q_INF in sent:
            r = sent[-_Q_INF]
            pre.append([r[1], None, [r], -_Q_INF])
        post = []
        if _Q_INF in sent:
            r = sent[_Q_INF]
            post.append([r[1], None, [r], _Q_INF])
        if nulls_last and q_null in sent:
            r = sent[q_null]
            post.append([r[1], None, [r], q_null])
        ordered = pre + entries + post

        n = sum(e[0] for e in ordered)
        target = max(-(-n // num_ranges), 1)
        self.buckets: list[list] = []
        self.count_offsets: list[int] = []
        self.fin_lo = 0
        self.fin_bounds: list[float] = []
        sent_bkt: dict[int, int] = {}
        cn = 0
        last_b = -1
        cur: list = []
        cur_fin = None
        for e in ordered:
            b = cn // target
            if b != last_b:
                last_b = b
                cur = []
                cur_fin = None
                self.buckets.append(cur)
                self.count_offsets.append(cn)
            cur.append(e)
            cn += e[0]
            bi = len(self.buckets) - 1
            if e[3] is not None:
                sent_bkt[e[3]] = bi
            elif cur_fin is None:
                # entries are range-sorted, so the first finite entry
                # of a bucket carries its minimum
                cur_fin = e[1]
                if not self.fin_bounds:
                    self.fin_lo = bi
                self.fin_bounds.append(float(e[1]))
        self.grand_n = cn
        self.n_buckets = len(self.buckets)
        self.bkt_null = sent_bkt.get(q_null, 0)
        self.bkt_inf = sent_bkt.get(_Q_INF, self.n_buckets - 1)
        self.bkt_ninf = sent_bkt.get(-_Q_INF, 0)

    def bucket_expr(self, key: Column) -> Column:
        """The plan-side bucket resolver: non-finite keys route by
        explicit WHEN branches to their sentinel group's bucket;
        finite keys probe the sorted ``fin_bounds`` LITERAL array —
        ``fin_lo + #{bounds ≤ key} − 1``. Every finite key is ≥
        ``fin_bounds[0]`` (the global finite minimum) by construction,
        so the probe is ≥ 0. No join, no exchange, and — because the
        probe compares RAW keys — no quantization on the data side:
        the windowed pass pays one cast plus ≤ ``num_ranges`` double
        compares per row."""
        inf = float("inf")
        kd = key.cast("double")
        if self.fin_bounds:
            arr = F.array(*[F.lit(b) for b in self.fin_bounds])
            fin = (
                F.size(F.filter(arr, lambda e: e <= kd))
                - F.lit(1)
                + F.lit(self.fin_lo)
            )
        else:
            fin = F.lit(0)
        return (
            F.when(kd.isNull(), F.lit(self.bkt_null))
            .when(F.isnan(kd) | (kd == F.lit(inf)), F.lit(self.bkt_inf))
            .when(kd == F.lit(-inf), F.lit(self.bkt_ninf))
            .otherwise(fin)
            .cast("int")
        )

    def payload_prefix_max(self, j):
        """Exclusive per-bucket prefix MAX of payload column *j* —
        the max-analogue of :meth:`payload_offsets` (None entries mean
        "no earlier value", and stay None rather than coalescing:
        0 is not an identity for max)."""
        outs = []
        run = None
        for bkt in self.buckets:
            outs.append(run)
            for e in bkt:
                for r in e[2]:
                    v = r[4 + j]
                    if v is not None:
                        run = v if run is None else max(run, v)
        return outs

    def payload_offsets(self, j):
        """Exclusive per-bucket prefix sums of payload column *j*
        (summary row position ``4 + j``), None-aware so Decimal stays
        Decimal and all-null prefixes stay None. Returns ``(offsets,
        grand_total)``."""
        outs = []
        run = None
        for bkt in self.buckets:
            outs.append(run)
            for e in bkt:
                for r in e[2]:
                    v = r[4 + j]
                    if v is not None:
                        run = v if run is None else run + v
        return outs, run


def _offset_lookup(values, cast_to=None) -> Column:
    """Per-bucket exclusive offset as ``element_at`` of a literal
    array indexed by ``__obkt`` (1-based). ``None`` entries (the
    prefix before the first non-null payload) coalesce to 0."""
    lits = [
        F.lit(v).cast(cast_to) if cast_to is not None else F.lit(v)
        for v in values
    ]
    return F.coalesce(
        F.element_at(F.array(*lits), F.col("__obkt") + F.lit(1)),
        F.lit(0),
    )


def _summary(
    df: DataFrame,
    key: Column,
    payload: Sequence[Column],
    num_ranges: int | None,
    materialize: bool,
    nulls_last: bool = False,
):
    """Fused phase 1: optionally ``localCheckpoint`` the input, then
    ONE aggregation job — quantize (inside this job only), group, and
    fetch ``(__oq, count, min(key), max(key), *payload)`` per group
    via one Arrow transfer (~4× cheaper than the py4j row collect at
    the 25k-group summaries id-sequence keys produce; nulls survive
    as None, decimals as decimal.Decimal). Driver traffic is
    summary-sized: ``min(distinct keys, ~8.6e6)`` rows — a hard
    data-independent bound, never the data. Returns the (possibly
    checkpointed) input unchanged, the summary rows, and the resolved
    ``num_ranges``."""
    spark = df.sparkSession
    if num_ranges is None:
        num_ranges = int(
            spark.conf.get("spark.sql.shuffle.partitions", "8")
        )
    if materialize:
        df = df.localCheckpoint(eager=False)
    kd = key.cast("double")
    summary = _with_quant_key(df, key, "__oq", nulls_last).groupBy(
        "__oq"
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        F.min(kd).alias("__mn"),
        F.max(kd).alias("__mx"),
        *payload,
    )
    tbl = summary.toArrow()
    cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    return df, list(zip(*cols)), num_ranges


def with_global_rank(
    df: DataFrame,
    key: Column,
    order_cols: Sequence[Column],
    out_col: str = "rn",
    num_ranges: int | None = None,
    materialize: bool = True,
    total_col: str | None = None,
    nulls_last: bool = False,
    strict_error: str | None = None,
) -> DataFrame:
    """Exact global ``row_number()`` in ``order_cols`` order without a
    single-partition sort. *key* must be numeric and non-strictly
    monotone in that order (see module contract); *order_cols* is the
    exact within-bucket ordering (include tiebreakers for determinism —
    with value-only ordering the rank→value mapping is still exact,
    only the tie assignment floats). Pass ``nulls_last=True`` when
    ranking descending (negated key) and null keys are possible.

    ``total_col`` (optional) attaches the GLOBAL row count as a long
    literal column — it is the sum of the already-collected group
    counts, so median positions / decile cut ranks / Pareto
    denominators cost zero extra jobs (a separate ``count()`` would
    re-execute the input subquery end to end).

    ``strict_error`` (optional) makes the plan RAISE with that message
    if ``order_cols`` ties anywhere — i.e. asserts the ordering is a
    strict total order. The check is ``rank() != row_number()`` over
    the SAME window (one extra window function in the existing
    WindowExec — zero extra exchanges, zero extra actions), and it is
    exhaustive: the bucket is a function of *key*, which is monotone
    in the order, so every tied pair shares a bucket and every tie is
    visible to the within-bucket rank."""
    base, rows, num_ranges = _summary(
        df, key, [], num_ranges, materialize, nulls_last
    )
    if not rows:
        out = df.withColumn(out_col, F.lit(None).cast("long"))
        if total_col is not None:
            out = out.withColumn(total_col, F.lit(0).cast("long"))
        return out
    carve = _Carve(rows, num_ranges, nulls_last)
    out = base.withColumn("__obkt", carve.bucket_expr(key))
    w = Window.partitionBy("__obkt").orderBy(*order_cols)
    rn_expr = (
        F.row_number().over(w).cast("long")
        + _offset_lookup(carve.count_offsets).cast("long")
    ).cast("long")
    if strict_error is not None:
        rn_expr = F.when(
            F.rank().over(w) != F.row_number().over(w),
            F.raise_error(F.lit(strict_error)).cast("long"),
        ).otherwise(rn_expr)
    out = out.withColumn(out_col, rn_expr).drop("__obkt")
    if total_col is not None:
        out = out.withColumn(
            total_col, F.lit(int(carve.grand_n)).cast("long")
        )
    return out


def with_running_sum(
    df: DataFrame,
    key: Column,
    order_cols: Sequence[Column],
    value_col: str,
    out_col: str = "cum",
    num_ranges: int | None = None,
    materialize: bool = True,
    total_col: str | None = None,
    nulls_last: bool = False,
) -> DataFrame:
    """Exact inclusive running sum of *value_col* in ``order_cols``
    order (ROWS UNBOUNDED PRECEDING .. CURRENT ROW frame) without a
    single-partition sort. The sum keeps *value_col*'s own type —
    decimal stays decimal-exact through both the window and the
    collected per-bucket offsets.

    ``total_col`` (optional) attaches the GLOBAL sum of *value_col* as
    a literal column — the sum of the already-collected group totals
    (same Python type the offsets use: Decimal stays Decimal), so
    share-of-total denominators cost zero extra passes.

    Output typing: ``out_col`` and ``total_col`` are cast to the SUM
    type of *value_col* (Spark's aggregate widening: decimal(p,s) →
    decimal(min(38, p+10), s), integrals → long, floats → double), so
    the schema is identical on empty and non-empty inputs and does not
    drift with the magnitude of the collected offset literals."""
    sum_type = _sum_type(df.schema[value_col].dataType)
    base, rows, num_ranges = _summary(
        df,
        key,
        [F.sum(value_col).alias("__s")],
        num_ranges,
        materialize,
        nulls_last,
    )
    if not rows:
        out = df.withColumn(out_col, F.lit(None).cast(sum_type))
        if total_col is not None:
            out = out.withColumn(total_col, F.lit(0).cast(sum_type))
        return out
    carve = _Carve(rows, num_ranges, nulls_last)
    offsets, grand_s = carve.payload_offsets(0)
    out = base.withColumn("__obkt", carve.bucket_expr(key))
    w = (
        Window.partitionBy("__obkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = out.withColumn(
        out_col,
        (
            F.sum(value_col).over(w)
            + _offset_lookup(offsets, sum_type)
        ).cast(sum_type),
    ).drop("__obkt")
    if total_col is not None:
        out = out.withColumn(
            total_col,
            F.lit(grand_s if grand_s is not None else 0).cast(sum_type),
        )
    return out


def with_running_max(
    df: DataFrame,
    key: Column,
    order_cols: Sequence[Column],
    value_col: str,
    out_col: str = "runmax",
    num_ranges: int | None = None,
    materialize: bool = True,
    nulls_last: bool = False,
) -> DataFrame:
    """EXCLUSIVE global running max of *value_col* in ``order_cols``
    order (frame ROWS UNBOUNDED PRECEDING .. 1 PRECEDING) without a
    single-partition sort — the primitive behind "record-breaking row"
    / skyline-style dominance scans over data-sized relations. The
    first row in the global order gets NULL (max over the empty
    prefix), exactly like the SQL frame.

    Same two-phase shape as :func:`with_running_sum`: the per-group
    summary carries ``max(value_col)``, the driver-side carve folds an
    exclusive prefix max across buckets (max is monotone under the
    carve's range merge, so exactness needs only the disjoint bucket
    order, not quantizer fidelity), and each bucket's window combines
    its literal offset with the within-bucket exclusive max via
    ``greatest`` (null-skipping, so bucket firsts inherit the offset
    and the global first stays null). Unlike the sum path the offset
    must NOT coalesce to 0 — 0 is no identity for max over negatives."""
    vtype = df.schema[value_col].dataType
    base, rows, num_ranges = _summary(
        df,
        key,
        [F.max(value_col).alias("__m")],
        num_ranges,
        materialize,
        nulls_last,
    )
    if not rows:
        return df.withColumn(out_col, F.lit(None).cast(vtype))
    carve = _Carve(rows, num_ranges, nulls_last)
    offsets = carve.payload_prefix_max(0)
    out = base.withColumn("__obkt", carve.bucket_expr(key))
    w = (
        Window.partitionBy("__obkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.element_at(
        F.array(*[F.lit(v).cast(vtype) for v in offsets]),
        F.col("__obkt") + F.lit(1),
    )
    out = out.withColumn(
        out_col,
        F.greatest(F.max(value_col).over(w), off).cast(vtype),
    ).drop("__obkt")
    return out


def sequence_gaps(
    df: DataFrame,
    id_col: str,
    num_ranges: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Gaps-and-islands at scale: for a DISTINCT integer id relation,
    return one row per gap — ``(id, next_id)`` where ``next_id`` is the
    next present id and ``next_id − id > 1`` — without a global sort.

    Two-phase ``lead()`` with boundary stitching: ids bucket by the
    carve, ``lead`` runs within each bucket (covering every
    intra-bucket group seam), and the cross-BUCKET seams come from the
    collected per-group ``(min, max)`` summary — the last group of one
    bucket against the first group of the next (adjacent groups inside
    one bucket are already covered by the data-side ``lead``). Empty
    buckets cannot exist (buckets are carved from populated groups),
    so the seam scan never skips ids."""
    spark = df.sparkSession
    # NULL ids carry no position in the sequence: drop them up front
    # (matching the lead()-based formulation, whose window comparison
    # silently discarded them). Without this the summary emits a
    # sentinel group with None __imn/__imx and the driver-side seam
    # min()/max() below would raise TypeError.
    df = df.select(F.col(id_col).cast("bigint").alias(id_col)).filter(
        F.col(id_col).isNotNull()
    )
    base, rows, num_ranges = _summary(
        df,
        F.col(id_col),
        # exact bigint min/max per group as payload: the summary's
        # __mn/__mx are DOUBLE (fine for carve/probe — both sides live
        # in double space) but seam ids must stay exact beyond 2^53
        [F.min(id_col).alias("__imn"), F.max(id_col).alias("__imx")],
        num_ranges,
        materialize,
    )
    out_schema = f"`{id_col}` bigint, `next_id` bigint"
    if not rows:
        return spark.createDataFrame([], out_schema)
    carve = _Carve(rows, num_ranges)
    bucketed = base.withColumn(
        "__obkt", carve.bucket_expr(F.col(id_col))
    )
    w = Window.partitionBy("__obkt").orderBy(id_col)
    intra = (
        bucketed.withColumn("next_id", F.lead(id_col).over(w))
        .filter(F.col("next_id") - F.col(id_col) > 1)
        .select(id_col, "next_id")
    )
    # cross-bucket seams from the carve's per-bucket row lists: each
    # bucket's exact max id against the next bucket's exact min id
    bkt_mn: list[int] = []
    bkt_mx: list[int] = []
    for bkt in carve.buckets:
        ids_mn = [r[4] for e in bkt for r in e[2]]
        ids_mx = [r[5] for e in bkt for r in e[2]]
        bkt_mn.append(min(ids_mn))
        bkt_mx.append(max(ids_mx))
    seams = [
        (int(a), int(b))
        for a, b in zip(bkt_mx, bkt_mn[1:])
        if b - a > 1
    ]
    if not seams:
        return intra
    return intra.unionByName(spark.createDataFrame(seams, out_schema))
