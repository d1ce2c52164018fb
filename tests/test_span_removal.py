"""Exact-substring span removal (Lee et al., ACL 2022 §4.1 emit step).

Pins the operator contract of ``operators.dedup.span_removal``:
token conservation (kept + removed = original, for every document in
the corpus, affected or not), canonical-occurrence survival, and the
whole-clone degenerate case. The cross-engine value check lives in
the registry oracle (``dedup_span_removal``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.functions.core import token_array
from air_quality_etl_pipeline_spark.operators.dedup import span_removal

SPAN = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_partial_span_cut_keeps_canonical(spark):
    """A ≥12-token span shared by two docs is cut from the HIGHER
    doc_id only; surrounding unique text survives with single-space
    rejoin; the canonical doc never appears in the output."""
    d = _docs(
        spark,
        [
            (1, f"unique one text {SPAN} tail a"),
            (2, f"other prefix words {SPAN} closing b"),
            (3, "completely unrelated text with no shared spans at all"),
        ],
    )
    out = {r["doc_id"]: r for r in span_removal(d, min_run=8).collect()}
    assert set(out) == {2}
    r = out[2]
    assert r["n_tokens"] == 17
    assert r["n_removed"] == 12
    assert r["n_kept"] == 5
    assert r["dedup_text"] == "other prefix words closing b"


def test_whole_clone_removed_entirely(spark):
    """Identical documents: the non-canonical copy is cut to the empty
    string (its whole token range is one shared run)."""
    d = _docs(spark, [(10, SPAN), (11, SPAN)])
    out = {r["doc_id"]: r for r in span_removal(d, min_run=8).collect()}
    assert set(out) == {11}
    assert out[11]["n_removed"] == out[11]["n_tokens"] == 12
    assert out[11]["n_kept"] == 0
    assert out[11]["dedup_text"] == ""


def test_casing_preserved_in_kept_text(spark):
    """Gram matching is case-insensitive (a shared span is cut even
    when the copies differ in case), but the SURVIVING tokens keep
    their original bytes — cutting a span never case-folds the rest of
    the document (round-10 advisor fidelity contract)."""
    d = _docs(
        spark,
        [
            (1, f"unique one text {SPAN} tail a"),
            (2, f"Other PREFIX Words {SPAN.upper()} Closing B"),
        ],
    )
    out = {r["doc_id"]: r for r in span_removal(d, min_run=8).collect()}
    assert set(out) == {2}
    assert out[2]["dedup_text"] == "Other PREFIX Words Closing B"


def test_short_runs_below_threshold_untouched(spark):
    """Shared runs shorter than min_run grams are phrase-level noise —
    nothing is removed."""
    shared = "one two three four five six"  # 2 shared 5-gram positions
    d = _docs(
        spark,
        [(1, f"aa bb {shared} cc"), (2, f"dd {shared} ee ff")],
    )
    assert span_removal(d, min_run=8).count() == 0


def test_token_conservation_on_corpus(spark, sf_dir):
    """Over the real documents table: every emitted row satisfies
    kept + removed = original token count, n_tokens matches the
    source doc, and dedup_text re-tokenizes to exactly n_kept."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = span_removal(docs, min_run=8)
    orig = docs.select(
        "doc_id", F.size(token_array(F.col("text"))).alias("n_src")
    )
    bad = (
        out.join(orig, on="doc_id")
        .filter(
            (F.col("n_kept") + F.col("n_removed") != F.col("n_tokens"))
            | (F.col("n_tokens") != F.col("n_src"))
            | (
                F.size(token_array(F.col("dedup_text")))
                != F.col("n_kept")
            )
            | (F.col("n_removed") <= 0)
        )
        .count()
    )
    assert bad == 0
    assert out.count() > 0  # the corpus does contain long shared spans


def test_overlapping_islands_never_double_count(spark):
    """Two removable islands whose token spans OVERLAP (gap of ≤ n-1
    gram positions) must not remove a position twice — coverage is a
    membership test, so conservation still holds exactly."""
    # doc 2 carries two copies of the span separated by one unique
    # token: islands overlap in token space around the separator
    d = _docs(
        spark,
        [
            (1, SPAN),
            (2, f"{SPAN} x {SPAN}"),
        ],
    )
    out = {r["doc_id"]: r for r in span_removal(d, min_run=8).collect()}
    for r in out.values():
        assert r["n_kept"] + r["n_removed"] == r["n_tokens"]
        assert len(r["dedup_text"].split()) == r["n_kept"] or (
            r["dedup_text"] == "" and r["n_kept"] == 0
        )


# ---------------------------------------------------------------------------
# Property: random corpora == pure-Python reference
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _ref_span_removal(rows, n=5, min_run=8):
    """Pure-Python reference of operators.dedup.span_removal — same
    contract, brute-force: flag shared grams, islands, cluster by
    exact span content, cut non-canonical occurrences."""
    otoks = {
        i: (txt.split() if txt.strip() else []) for i, txt in rows
    }
    # lowercased ONLY for gram hashing / span-content clustering; the
    # emitted text keeps original casing (round-10 advisor)
    toks = {i: [t.lower() for t in ts] for i, ts in otoks.items()}
    grams = {}  # (doc, pos) -> gram text
    by_gram = {}
    for i, ts in toks.items():
        for p in range(1, max(len(ts) - (n - 1), 1) + 1):
            g = " ".join(ts[p - 1 : p - 1 + n])
            grams[(i, p)] = g
            by_gram.setdefault(g, set()).add(i)
    flagged = {
        i: sorted(p for (d, p), g in grams.items() if d == i and len(by_gram[g]) >= 2)
        for i in toks
    }
    spans = []  # (content, doc, p1, tend)
    for i, ps in flagged.items():
        run = []
        for p in ps + [None]:
            if run and (p is None or p != run[-1] + 1):
                if len(run) >= min_run:
                    p1, p2 = run[0], run[-1]
                    tend = min(p2 + n - 1, len(toks[i]))
                    spans.append(
                        (" ".join(toks[i][p1 - 1 : tend]), i, p1, tend)
                    )
                run = []
            if p is not None:
                run.append(p)  # run was cleared above if non-consecutive
    clusters = {}
    for content, i, p1, tend in spans:
        clusters.setdefault(content, []).append((i, p1, tend))
    cut = {}
    for occs in clusters.values():
        for i, p1, tend in sorted(occs)[1:]:
            cut.setdefault(i, set()).update(range(p1, tend + 1))
    out = {}
    for i, pos in cut.items():
        ts = otoks[i]
        kept = [t for j, t in enumerate(ts, start=1) if j not in pos]
        out[i] = (
            len(ts),
            len(ts) - len(kept),
            len(kept),
            " ".join(kept),
        )
    return out


_BLOCKS = [
    "qa qb qc qd qe qf qg qh qi qj qk ql qm",
    "ra rb rc rd re rf rg rh ri rj rk rl",
    "sa sb sc sd se sf sg sh si sj sk sl sm sn",
]
_seg = st.one_of(
    st.sampled_from(_BLOCKS),
    st.lists(
        st.sampled_from(["u1", "u2", "u3", "u4", "u5", "u6"]),
        min_size=1,
        max_size=6,
    ).map(" ".join),
)
_doc = st.lists(_seg, min_size=0, max_size=4).map(" ".join)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(texts=st.lists(_doc, min_size=2, max_size=6))
def test_span_removal_property_matches_reference(spark, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from air_quality_etl_pipeline_spark.operators.dedup import span_removal

    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_removed"],
            r["n_kept"],
            r["dedup_text"],
        )
        for r in span_removal(df, min_run=8).collect()
    }
    assert got == _ref_span_removal(rows)


def test_write_span_deduped_corpus_roundtrip(spark, sf_dir, tmp_path):
    """The emitted corpus is a drop-in replacement: same schema, same
    doc count, untouched docs byte-identical, affected docs carry
    exactly the operator's cut text, and a SECOND span-removal pass
    over the emitted corpus finds nothing left to cut for the spans
    already removed (the canonical occurrence survives, so its grams
    lose their >=2-doc support)."""
    from air_quality_etl_pipeline_spark.sources.writers import (
        write_span_deduped_corpus,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = str(tmp_path / "deduped")
    write_span_deduped_corpus(docs, p)
    back = spark.read.parquet(p)
    assert back.columns == docs.columns
    assert back.count() == docs.count()
    cut = {
        r["doc_id"]: r["dedup_text"]
        for r in span_removal(docs, min_run=8).collect()
    }
    assert cut  # corpus has affected docs
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = {r["doc_id"]: r["text"] for r in back.collect()}
    for k, v in got.items():
        assert v == cut.get(k, orig[k])
    # kept token mass strictly below original (something was removed)
    assert sum(len(v.split()) for v in got.values()) < sum(
        len(v.split()) for v in orig.values()
    )
