"""Shared DuckDB-oracle SQL: each fragment or oracle builder that more
than one ``workload_*`` module needs is defined here, once.

Import rule: this module imports only the layers below the registry
(``functions``), and a ``workload_*`` module takes shared oracle SQL
from here, never from another ``workload_*`` module.
"""

from __future__ import annotations

from air_quality_etl_pipeline_spark.functions.core import (
    MINHASH_P31,
    affine_coeffs,
)
from air_quality_etl_pipeline_spark.functions.portable_math import (
    sql_ln_int,
    sql_quantize_micro9,
)

#: whitespace tokens, [] on blank — the SQL twin of
#: functions.core.token_array (shared by every documents-table oracle)
TOKS = (
    "CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(trim(text), '\\s+') END"
)

#: lower-cased token list — twin of the classifier's gram normalizer
LTOKS = f"list_transform({TOKS}, x -> lower(x))"


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _word_shingles_sql(n: int = 5) -> str:
    """Distinct word n-grams over a ``toks`` array column — mirrors
    functions.core.word_shingles_of_tokens (DuckDB list slice is inclusive, Spark
    ``slice(toks, i, n)`` is start+length; both clamp at the end)."""
    return (
        f"list_distinct([array_to_string(toks[i:i+{n - 1}], ' ') "
        f"for i in range(1, greatest(len(toks) - {n - 1}, 1) + 1)])"
    )


#: decimal-exact lineitem revenue over unqualified ``l_*`` columns
_REV = (
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"
)


#: DuckDB CTE chain producing the 48-bit/Hamming≤3 SimHash near-dup
#: pair set as ``sim_pairs(id_a, id_b, hamming)`` — shared between the
#: dedup_simhash oracle and the dedup_clusters oracle (workload_curation),
#: so both engines resolve clusters over the exact same edge set.
SIMHASH_PAIRS_CTES = """
    toks AS (
      SELECT doc_id, lang, unnest(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
             ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tok
      FROM documents),
    h AS (SELECT doc_id, lang, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
    votes AS (
      SELECT doc_id, lang, b.bit,
             sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS votes
      FROM h, (SELECT unnest(range(0, 48)) AS bit) b
      GROUP BY 1, 2, 3),
    sh AS (
      SELECT doc_id, lang,
             sum(CASE WHEN votes > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
               AS simhash
      FROM votes GROUP BY doc_id, lang),
    sim_pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)"""


def _minhash_oracle(
    num_hashes: int = 8,
    bands: int = 4,
    thr: float = 0.7,
    n: int = 5,
    family: str = "md5",
) -> str:
    rows = num_hashes // bands
    if family == "md5_affine":
        # one md5 per shingle; k Carter-Wegman affine rehashes of its
        # low 30 bits — mirrors functions.core.affine_coeffs exactly
        b30 = "(('0x' || substr(md5(x), 1, 15))::BIGINT % 1073741824)"
        sig = ",\n           ".join(
            "list_min(list_transform(s, x -> "
            f"({a} * {b30} + {c}) % {MINHASH_P31})) AS h{i}"
            for i, (a, c) in (
                (j, affine_coeffs(j)) for j in range(num_hashes)
            )
        )
    else:
        # fixed-width lowercase hex: lexicographic min ≡ numeric min,
        # matching the Spark side's decode-free md5_hex15 hash family.
        sig = ",\n           ".join(
            f"list_min(list_transform(s, x -> "
            f"substr(md5('{i}:' || x), 1, 15))) AS h{i}"
            for i in range(num_hashes)
        )
    band_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band_idx, md5(concat_ws(','"
        + "".join(f", h{b * rows + r}" for r in range(rows))
        + ")) AS band_hash FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_word_shingles_sql(n)} AS s FROM t),
    sig AS (SELECT doc_id,
           {sig}
        FROM sh),
    banded AS (
      {band_rows}
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id),
    verified AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(a.s || b.s)) AS jaccard
      FROM cands JOIN sh a ON a.doc_id = cands.id_a
                 JOIN sh b ON b.doc_id = cands.id_b)
    SELECT id_a, id_b, floor((jaccard) * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM verified WHERE jaccard >= {thr}
    """


def _incremental_dedup_oracle(
    num_hashes: int = 8,
    bands: int = 4,
    thr: float = 0.7,
    n: int = 5,
    corpus_pct: int = 80,
) -> str:
    """Cross-relation twin of the dedup_minhash_lsh oracle: documents
    split by the deterministic sample bucket into corpus (< pct) and
    incoming batch (>= pct); signatures per side; band join ACROSS the
    sides only; word-shingle Jaccard verify; then one row per incoming
    doc with its dup verdict."""
    rows = num_hashes // bands
    bucket = (
        "(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15))"
        "::BIGINT % 100)"
    )
    sig = ",\n           ".join(
        f"list_min(list_transform(s, x -> "
        f"substr(md5('{i}:' || x), 1, 15))) AS h{i}"
        for i in range(num_hashes)
    )

    def banded(src: str) -> str:
        return "\n      UNION ALL\n      ".join(
            f"SELECT doc_id, {b} AS band_idx, md5(concat_ws(','"
            + "".join(f", h{b * rows + r}" for r in range(rows))
            + f")) AS band_hash FROM {src}"
            for b in range(bands)
        )

    return f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks,
                      {bucket} >= {corpus_pct} AS incoming
               FROM documents),
    sh AS (SELECT doc_id, incoming, {_word_shingles_sql(n)} AS s FROM t),
    sig_new AS (SELECT doc_id, s,
           {sig}
        FROM sh WHERE incoming),
    sig_old AS (SELECT doc_id, s,
           {sig}
        FROM sh WHERE NOT incoming),
    banded_new AS (
      {banded('sig_new')}
    ),
    banded_old AS (
      {banded('sig_old')}
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
      FROM banded_new a JOIN banded_old b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash),
    verified AS (
      SELECT new_id, corpus_id,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(a.s || b.s)) AS jaccard
      FROM cands JOIN sig_new a ON a.doc_id = cands.new_id
                 JOIN sig_old b ON b.doc_id = cands.corpus_id),
    hits AS (
      SELECT new_id, CAST(count(*) AS BIGINT) AS n_matches,
             floor(max(jaccard) * 10000.0 + 0.5) / 10000.0 AS best_jaccard
      FROM verified WHERE jaccard >= {thr} GROUP BY new_id)
    SELECT t.doc_id AS new_id,
           h.new_id IS NOT NULL AS is_dup,
           CAST(coalesce(h.n_matches, 0) AS BIGINT) AS n_matches,
           h.best_jaccard
    FROM t LEFT JOIN hits h ON h.new_id = t.doc_id
    WHERE t.incoming
    """


def _ivf_oracle(
    stride: int | str = 128,
    nprobe: int = 2,
    k: int = 5,
    query_pred: str = "q.vec_id < 8",
) -> str:
    def cos(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i])) / "
            f"(sqrt(list_sum(list_transform({a}, x -> x * x))) * "
            f"sqrt(list_sum(list_transform({b}, x -> x * x))))"
        )

    def r6(x: str) -> str:
        return f"floor(({x}) * 1000000.0 + 0.5) / 1000000.0"

    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % {stride} = 0),
    assign AS (
      SELECT vec_id AS neighbor_id, v AS nv, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {r6(cos('e.v', 'c.cv'))} DESC, c.cid ASC) AS rn
        FROM e, cent c) WHERE rn = 1),
    probes AS (
      SELECT query_id, qv, cid FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, c.cid,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {r6(cos('q.v', 'c.cv'))} DESC, c.cid ASC) AS rn
        FROM e q, cent c WHERE {query_pred}) WHERE rn <= {nprobe}),
    scored AS (
      SELECT query_id, neighbor_id, {r6(cos('p.qv', 'a.nv'))} AS cosine
      FROM probes p JOIN assign a
        ON p.cid = a.cid AND a.neighbor_id <> p.query_id)
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored) WHERE rank <= {k}
    """


#: shared by workload_corpus.span_removal_between and its streaming twin
#: in workload_sources (same oracle applies because per-document output
#: depends only on (document, corpus), never on batch slicing)
SPAN_BETWEEN_ORACLE = f"""
    WITH t AS (SELECT doc_id, {TOKS} AS otoks, {LTOKS} AS toks
               FROM documents),
    b AS (SELECT * FROM t WHERE doc_id % 4 = 0),
    c AS (SELECT * FROM t WHERE doc_id % 4 <> 0),
    cg AS (SELECT DISTINCT
             ('0x' || substr(md5(array_to_string(toks[u.i:u.i+4], ' ')),
              1, 15))::BIGINT AS gh
           FROM c, unnest(range(1, greatest(len(toks) - 4, 1) + 1)) AS u(i)),
    bg AS (SELECT doc_id, u.i AS pos,
             ('0x' || substr(md5(array_to_string(toks[u.i:u.i+4], ' ')),
              1, 15))::BIGINT AS gh
           FROM b, unnest(range(1, greatest(len(toks) - 4, 1) + 1)) AS u(i)),
    flagged AS (SELECT bg.doc_id, bg.pos FROM bg JOIN cg USING (gh)),
    isl AS (SELECT doc_id, pos, pos - row_number() OVER (
              PARTITION BY doc_id ORDER BY pos ASC) AS island
            FROM flagged),
    runs AS (SELECT doc_id, min(pos) AS p1, max(pos) AS p2
             FROM isl GROUP BY doc_id, island HAVING count(*) >= 8),
    spans AS (SELECT r.doc_id, r.p1,
                     least(r.p2 + 4, len(t2.otoks)) AS tend
              FROM runs r JOIN b t2 USING (doc_id)),
    cut AS (SELECT DISTINCT doc_id, u.tp
            FROM spans, unnest(range(p1, tend + 1)) AS u(tp)),
    toks_pos AS (SELECT doc_id, u.i AS tp, otoks[u.i] AS tok
                 FROM b, unnest(range(1, len(otoks) + 1)) AS u(i)),
    joined AS (SELECT tp2.doc_id, tp2.tok, tp2.tp,
                      (c2.tp IS NOT NULL) AS removed
               FROM toks_pos tp2 LEFT JOIN cut c2
                 ON tp2.doc_id = c2.doc_id AND tp2.tp = c2.tp
               WHERE tp2.doc_id IN (SELECT DISTINCT doc_id FROM cut))
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (removed) AS BIGINT) AS n_removed,
           CAST(count(*) FILTER (NOT removed) AS BIGINT) AS n_kept,
           coalesce(string_agg(tok, ' ' ORDER BY tp)
                    FILTER (NOT removed), '') AS dedup_text
    FROM joined GROUP BY doc_id
    """


QC_B = 1024  # feature buckets (hashing trick)


def qc_qln(expr: str) -> str:
    """micro9-quantized bit-portable ln of a positive int64 SQL expr."""
    return sql_quantize_micro9(sql_ln_int(expr))


#: unigram ∪ bigram gram stream over a relation `{rel}` that carries
#: (``{keep}``, toks) — the SQL twin of operators.text.hashed_gram_buckets
QC_GRAMS = """
      SELECT {keep}, u.tok AS gram FROM {rel}, unnest(toks) AS u(tok)
      UNION ALL
      SELECT {keep}, toks[u.i] || ' ' || toks[u.i + 1] AS gram
      FROM {rel}, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS u(i)"""

QC_BUCKET = "(('0x' || substr(md5('qc:' || gram), 1, 15))::BIGINT % 1024)"


#: Shared by workload_training's batch query and its streaming twin
#: (workload_sources.q_streaming_quality_score): the streaming twin
#: scores the same corpus micro-batch-by-micro-batch with the same
#: once-built weight table, so the SAME oracle applies — that equality
#: is its exactly-once check.
QC_SCORE_ORACLE = f"""
    WITH lab AS (SELECT doc_id, {LTOKS} AS toks,
                        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                 FROM documents WHERE doc_id % 5 <> 0),
    lg AS ({QC_GRAMS.format(rel="lab", keep="y")}),
    lb AS (SELECT {QC_BUCKET} AS bucket, y FROM lg),
    cnt AS (SELECT bucket,
                   CAST(count(*) FILTER (y = 1) AS BIGINT) AS c1,
                   CAST(count(*) FILTER (y = 0) AS BIGINT) AS c0
            FROM lb GROUP BY 1),
    allb AS (SELECT r.range AS bucket,
                    coalesce(c1, 0) AS c1, coalesce(c0, 0) AS c0
             FROM range(0, {QC_B}) r
             LEFT JOIN cnt ON r.range = cnt.bucket),
    tot AS (SELECT CAST(sum(c1) + {QC_B} AS BIGINT) AS t1b,
                   CAST(sum(c0) + {QC_B} AS BIGINT) AS t0b
            FROM allb),
    w AS (SELECT bucket,
                 {qc_qln("c1 + 1")} - {qc_qln("t1b")}
                 - {qc_qln("c0 + 1")} + {qc_qln("t0b")} AS wm
          FROM allb, tot),
    pr AS (SELECT {qc_qln("n1")} - {qc_qln("n0")} AS pm FROM (
             SELECT CAST(count(*) FILTER (y = 1) AS BIGINT) AS n1,
                    CAST(count(*) FILTER (y = 0) AS BIGINT) AS n0
             FROM lab)),
    d AS (SELECT doc_id, {LTOKS} AS toks FROM documents),
    dg AS ({QC_GRAMS.format(rel="d", keep="doc_id")}),
    db AS (SELECT doc_id, {QC_BUCKET} AS bucket,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM dg GROUP BY 1, 2),
    s AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
                 CAST(sum(cnt * wm) AS BIGINT) AS dot
          FROM db JOIN w USING (bucket) GROUP BY 1)
    SELECT doc_id, n_grams,
           CAST(dot + pm AS BIGINT) AS score_micro9,
           CAST((dot + pm) > 0 AS BIGINT) AS pred
    FROM s, pr
    """
