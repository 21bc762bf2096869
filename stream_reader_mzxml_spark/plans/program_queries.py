"""Round-2 program battery: q34 (nested Array<Struct> record model +
entry-point-2 None-preserving gate), q39 (the CandidateIons end-to-end
analytic, checked against the SQL program ``_q35_sql``),
q36 (per-group top-K with its rank ≡ plain window).

Same conventions as plans.entry_queries: every computed column aliased
identically on both sides, floats rounded, constants shared between the
Spark plan and the DuckDB oracle from single Python sources of truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stream_reader_mzxml_spark.operators.aggregates import top_k
from stream_reader_mzxml_spark.operators.nested import (
    PREC_DIM,
    precursor_request_gate,
    with_precursors,
)
from stream_reader_mzxml_spark.pipeline import candidate
from stream_reader_mzxml_spark.plans import register
from stream_reader_mzxml_spark.sources.readers import read_table


# ---------------------------------------------------------------------------
# q34 — nested precursorMz Array<Struct> + EP2 None-preserving exists() gate
# (SpectrumRequest.scala:40-53; struct fields MzXMLTags.scala:189-197).
# Every input row appears in the output; non-passing rows carry NULL match
# columns (the reference's Some/None stream shape). NULL intensity fails its
# element's test without poisoning the row (Option.exists semantics).
# ---------------------------------------------------------------------------
_Q34_MZ = 500.0
_Q34_PPM = 4000.0
_Q34_MIN_INT = 500.0


@register(
    "q34_nested_precursor_gate",
    f"""
    WITH p AS (
      SELECT vec_id,
             list_transform(
               generate_series(1, (vec_id % {PREC_DIM + 1})::INT),
               i -> {{'value': {_Q34_MZ} + embedding[i]::DOUBLE * 10,
                      'intensity': CASE
                          WHEN ((vec_id * {PREC_DIM} + i - 1) % 19) = 0 THEN NULL
                          ELSE (((vec_id * {PREC_DIM} + i - 1) * 37) % 1000)::DOUBLE
                        END,
                      'scan_num': vec_id * {PREC_DIM} + i - 1}}
             ) AS precursors
      FROM embeddings
    ),
    m AS (
      SELECT vec_id, precursors,
             list_filter(precursors, q ->
               abs(({_Q34_MZ} - q.value) / {_Q34_MZ}) * 1e6 <= {_Q34_PPM}
               AND q.intensity IS NOT NULL
               AND q.intensity > {_Q34_MIN_INT}) AS matches
      FROM p
    )
    SELECT vec_id,
           length(precursors) AS n_prec,
           (length(precursors) > 0 AND length(matches) > 0)::INT AS passed,
           CASE WHEN length(matches) > 0 THEN length(matches) END AS n_match,
           CASE WHEN length(matches) > 0
                THEN round(matches[1].value, 6) END AS first_match_value
    FROM m
    """,
)
def q34_nested_precursor_gate(spark, sf_dir):
    nested = with_precursors(
        read_table(spark, sf_dir, "embeddings"), base_value=_Q34_MZ
    )
    return precursor_request_gate(
        nested, mz=_Q34_MZ, min_intensity=_Q34_MIN_INT, ppm=_Q34_PPM
    )


# ---------------------------------------------------------------------------
# The CandidateIons end-to-end program (libCandidateIons.sc:100-193) as SQL:
# noise filter → precursor-list interval/tolerance join → head-of-list
# tie-break → isotope nearest-peak probes (minBy fold) → double ppm gate →
# abundance band filters → rendered Ion rows. The oracle of q39 and, inside
# q47's, of ``candidate.candidate_ions``.
# ---------------------------------------------------------------------------
def _q35_sql() -> str:
    c = candidate
    ion_rows = ",\n        ".join(
        f"({p}, {rt0}, {m0}, '{frag}')" for p, rt0, m0, frag in c.ion_list()
    )
    near = (
        "list_reduce(peaks, (acc, p) -> CASE WHEN abs(p.mz - ({d})) < "
        "abs(acc.mz - ({d})) THEN p ELSE acc END)"
    )
    return f"""
    WITH ions(ion_id, rt0, m0, fragments) AS (VALUES
        {ion_rows}
    ),
    sp AS (
      SELECT vec_id,
             ((vec_id * 7) % 3600)::DOUBLE AS rt,
             list_transform(generate_series(1, {c.PEAK_DIM}), i ->
               {{'mz': 100.0 + embedding[i]::DOUBLE * 10,
                 'intensity': (((vec_id * {c.PEAK_DIM} + i - 1) * 37) % 1000)::DOUBLE}}
             ) AS peaks
      FROM embeddings
    ),
    pk AS (
      SELECT vec_id, rt, g.i AS pos,
             peaks[g.i].mz AS mz0, peaks[g.i].intensity AS int0
      FROM sp, (SELECT unnest(generate_series(1, {c.PEAK_DIM})) AS i) g
      WHERE peaks[g.i].intensity > {c.NOISE_INTENSITY}
    ),
    cand AS (
      SELECT pk.*, i.ion_id, i.fragments,
             row_number() OVER (PARTITION BY pk.vec_id, pk.pos
                                ORDER BY i.ion_id) AS rn
      FROM pk JOIN ions i
        ON pk.rt >= i.rt0 - {c.RT_WINDOW} AND pk.rt <= i.rt0 + {c.RT_WINDOW}
       AND abs(i.m0 - pk.mz0) < {c.MZ_TOL}
    ),
    win AS (
      SELECT w.vec_id, w.rt, w.pos, w.mz0, w.int0, w.ion_id, w.fragments,
             s.peaks
      FROM cand w JOIN sp s ON w.vec_id = s.vec_id
      WHERE w.rn = 1
    ),
    iso AS (
      SELECT *,
             {near.format(d=f"mz0 + {c.DELTA_MP0_MP1}")} AS near1,
             {near.format(d=f"mz0 + {c.DELTA_MP0_MP2}")} AS near2
      FROM win
    )
    SELECT vec_id AS num, rt, pos,
           round(mz0, 6) AS mz0, int0,
           round(near1.mz, 6) AS mz1, near1.intensity AS int1,
           round(near2.mz, 6) AS mz2, near2.intensity AS int2,
           ion_id, fragments
    FROM iso
    WHERE abs(near1.mz - (mz0 + {c.DELTA_MP0_MP1})) / (mz0 + {c.DELTA_MP0_MP1})
            * 1e6 < {c.PPM_PRECISION}
      AND abs(near2.mz - (mz0 + {c.DELTA_MP0_MP2})) / (mz0 + {c.DELTA_MP0_MP2})
            * 1e6 < {c.PPM_PRECISION}
      AND near1.intensity >= int0 * {c.BAND1_LO}
      AND near1.intensity <  int0 * {c.BAND1_HI}
      AND near2.intensity >= int0 * {c.BAND2_LO}
      AND near2.intensity <  int0 * {c.BAND2_HI}
    """


# ---------------------------------------------------------------------------
# q39 — the program as ``candidate.candidate_ions`` runs it: one stateless
# per-row projection (higher-order functions only: zero shuffles, zero joins,
# streaming-safe).
# ---------------------------------------------------------------------------
@register("q39_candidate_ions_fused", _q35_sql())
def q39_candidate_ions_fused(spark, sf_dir):
    return candidate.candidate_ions(read_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# q36 — per-group top-K with its rank column, checked against the plain
# window the oracle runs. l_returnflag has 3 values — the low-cardinality
# skew case where an unsplit window would funnel the whole table through 3
# tasks; top_k's WindowGroupLimit Partial keeps ≤ 5 rows per group per input
# partition before the shuffle. The name is kept: the battery order and
# bench.py's HEADLINE list it.
# ---------------------------------------------------------------------------
@register(
    "q36_salted_topk",
    """
    SELECT l_returnflag, l_orderkey, l_linenumber, price, rank FROM (
      SELECT l_returnflag, l_orderkey, l_linenumber,
             round(l_extendedprice, 2) AS price,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             ) AS rank
      FROM lineitem
    ) WHERE rank <= 5
    """,
)
def q36_salted_topk(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    order = [F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")]
    return top_k(li, ["l_returnflag"], order, k=5).select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 2).alias("price"),
        "rank",
    )


# ---------------------------------------------------------------------------
# q37 — unigram-LM perplexity per document: corpus word frequencies → per-doc
# exp(mean −ln p(w)). The training-data quality metric a web-scale pipeline
# runs next to q21's heuristics. Float parity: the per-doc log-prob sum is an
# ORDERED fold over the doc's word positions (sort_array of (pos, logp)
# structs ≡ DuckDB list(logp ORDER BY pos) + list_reduce), so both engines
# associate the IEEE additions identically — a plain groupBy sum would be
# association-nondeterministic and could flip the 6-decimal rounding.
# At 100 TB: one explode + one groupBy (word counts, partial-agg'd), one
# hash join back (word dictionary ~ vocabulary-sized, broadcastable), one
# groupBy doc — all shuffle keys well-distributed (words are Zipf but the
# count join is a lookup, not a pair-join).
# ---------------------------------------------------------------------------
@register(
    "q37_unigram_perplexity",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    ex0 AS (
      SELECT doc_id, ws, length(ws) AS n_words,
             unnest(generate_series(1, length(ws))) AS pos
      FROM w
    ),
    ex AS (SELECT doc_id, pos, ws[pos] AS word, n_words FROM ex0),
    cnt AS (SELECT word, count(*) AS c FROM ex GROUP BY word),
    tot AS (SELECT count(*) AS n FROM ex),
    lp AS (
      SELECT e.doc_id, e.pos, e.n_words,
             -ln(cnt.c / tot.n) AS nll
      FROM ex e JOIN cnt ON e.word = cnt.word CROSS JOIN tot
    ),
    folded AS (
      SELECT doc_id, n_words,
             list_reduce(list_prepend(0.0, list(nll ORDER BY pos)),
                         (acc, x) -> acc + x) AS nll_sum
      FROM lp GROUP BY doc_id, n_words
    )
    SELECT doc_id, n_words,
           round(exp(nll_sum / n_words), 6) AS perplexity
    FROM folded
    """,
)
def q37_unigram_perplexity(spark, sf_dir):
    from stream_reader_mzxml_spark.pipeline.text import words

    docs = read_table(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id",
        F.posexplode(words(F.col("text"))).alias("pos0", "word"),
        F.size(words(F.col("text"))).alias("n_words"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word", "n_words")
    cnt = ex.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    # 1-row total via broadcast cross join — stays lazy (no driver action),
    # exactly the oracle's CROSS JOIN tot
    tot = ex.agg(F.count(F.lit(1)).cast("double").alias("n"))
    lp = (
        # BROADCAST the word-count dictionary: it is vocabulary-sized
        # (~1-10 M rows at any corpus scale — Heaps' law), while `ex` is one
        # row per token OCCURRENCE with a Zipf-hot key ("the"); a shuffle
        # hash join on the raw word would put the whole head of the Zipf
        # distribution through single reducers at 100 TB. Broadcasting makes
        # the lookup map-side and removes the skewed shuffle entirely. If the
        # vocabulary ever exceeds broadcast reach, the fallback is salting
        # the top-df words, not a plain shuffle join.
        ex.join(F.broadcast(cnt), ["word"])
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "pos",
            "n_words",
            (-F.log(F.col("c") / F.col("n"))).alias("nll"),
        )
    )
    folded = lp.groupBy("doc_id", "n_words").agg(
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "nll"))),
                lambda s: s["nll"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("nll_sum")
    )
    return folded.select(
        "doc_id",
        "n_words",
        F.round(F.exp(F.col("nll_sum") / F.col("n_words")), 6).alias("perplexity"),
    )


# ---------------------------------------------------------------------------
# q38 — exact multi-quantile per group (O-family widening): p50/p95/p99 of
# event values per event_type. Spark's exact `percentile` aggregate and
# DuckDB's `quantile_cont` share the (n−1)·p linear-interpolation definition.
# At 100 TB the exact form is one shuffle on the group key; the sketch form
# (approx_percentile / t-digest) is the knob when groups no longer fit — not
# oracle-comparable, so the exact one is the contract query.
# ---------------------------------------------------------------------------
@register(
    "q38_quantiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6)  AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(quantile_cont(value, 0.99), 6) AS p99,
           count(*) AS n_rows
    FROM events GROUP BY event_type
    """,
)
def q38_quantiles(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# q40 — within-document repetition (the substring-level dedup quality signal):
# distinct/total 3-gram counts, repeated-gram count, repeated-occurrence
# fraction per doc.
# ---------------------------------------------------------------------------
@register(
    "q40_repetition",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g0 AS (
      SELECT doc_id, ws, unnest(generate_series(1, length(ws) - 2)) AS i
      FROM w WHERE length(ws) >= 3
    ),
    g AS (
      SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram FROM g0
    ),
    c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram)
    SELECT doc_id,
           count(*) AS n_distinct_grams,
           sum(c)::BIGINT AS n_grams,
           sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)::BIGINT AS n_repeated,
           round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / sum(c), 6) AS rep_ratio
    FROM c GROUP BY doc_id
    """,
)
def q40_repetition(spark, sf_dir):
    from stream_reader_mzxml_spark.pipeline.text import repetition_features

    return repetition_features(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q41 — PII-pattern surface counts (email-shaped tokens, long digit runs):
# the cheap pre-NER scrub filter, pure scan-project exprs.
# ---------------------------------------------------------------------------
@register(
    "q41_pii_patterns",
    """
    SELECT doc_id,
           length(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+')) AS n_emails,
           length(regexp_extract_all(text, '[0-9]{3,}')) AS n_digit_runs,
           (length(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+')) > 0)::INT
             AS has_pii_surface
    FROM documents
    """,
)
def q41_pii_patterns(spark, sf_dir):
    from stream_reader_mzxml_spark.pipeline.text import pii_pattern_counts

    return pii_pattern_counts(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q42 — corpus-curation composite: quality → language → repetition → PII →
# exact-dedup keeper → keep/drop verdict with first-failing-gate attribution
# (the LLM-data analog of the reference's composed flagship program).
# ---------------------------------------------------------------------------
def _q42_sql(src: str = "documents") -> str:
    from stream_reader_mzxml_spark.pipeline import curation
    from stream_reader_mzxml_spark.pipeline.text import LANG_STOPWORDS

    langs = sorted(LANG_STOPWORDS)
    hits = ",\n             ".join(
        "length(list_filter(ws, x -> list_contains(["
        + ", ".join(f"'{s}'" for s in LANG_STOPWORDS[lang])
        + f"], x))) AS hits_{lang}"
        for lang in langs
    )
    maxh = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    pred = "'und'"
    for lang in reversed(langs):
        pred = (
            f"CASE WHEN hits_{lang} = {maxh} AND {maxh} > 0 "
            f"THEN '{lang}' ELSE {pred} END"
        )
    sw_en = ", ".join(f"'{s}'" for s in LANG_STOPWORDS["en"])
    return f"""
    WITH w AS (
      SELECT doc_id, text, string_split(text, ' ') AS ws, length(text) AS nc
      FROM {src}
    ),
    q AS (
      SELECT doc_id,
             CASE WHEN length(ws) < 5 THEN 0.0
                  WHEN (nc - (length(ws) - 1)) / length(ws) < 2.0 THEN 0.25
                  ELSE round(
                    least(1.0, (length(list_filter(ws, x ->
                        list_contains([{sw_en}], x))) / length(ws)) * 4.0) * 0.5
                    + least(1.0, length(ws) / 24.0) * 0.5, 6)
             END AS quality_score
      FROM w
    ),
    lh AS (
      SELECT doc_id,
             {hits}
      FROM w
    ),
    l AS (SELECT doc_id, {pred} AS pred_lang FROM lh),
    g0 AS (
      SELECT doc_id, ws, unnest(generate_series(1, length(ws) - 2)) AS i
      FROM w WHERE length(ws) >= 3
    ),
    g AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram FROM g0),
    gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
    rep AS (
      SELECT doc_id,
             round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / sum(c), 6)
               AS rep_ratio
      FROM gc GROUP BY doc_id
    ),
    pii AS (
      SELECT doc_id,
             (length(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+')) > 0)::INT
               AS has_pii_surface
      FROM {src}
    ),
    keeper AS (
      SELECT md5(text) AS h, min(doc_id) AS keeper_doc_id
      FROM {src} GROUP BY 1
    ),
    j AS (
      SELECT d.doc_id, q.quality_score, l.pred_lang,
             coalesce(rep.rep_ratio, 0.0) AS rep_ratio,
             pii.has_pii_surface, k.keeper_doc_id
      FROM {src} d
      JOIN q ON d.doc_id = q.doc_id
      JOIN l ON d.doc_id = l.doc_id
      JOIN pii ON d.doc_id = pii.doc_id
      LEFT JOIN rep ON d.doc_id = rep.doc_id
      JOIN keeper k ON md5(d.text) = k.h
    )
    SELECT doc_id, quality_score, pred_lang,
           round(rep_ratio, 6) AS rep_ratio, has_pii_surface,
           (NOT (quality_score < {curation.MIN_QUALITY}
                 OR rep_ratio > {curation.MAX_REP_RATIO}
                 OR has_pii_surface = 1
                 OR doc_id != keeper_doc_id))::INT AS keep,
           CASE WHEN quality_score < {curation.MIN_QUALITY} THEN 'quality'
                WHEN rep_ratio > {curation.MAX_REP_RATIO} THEN 'repetition'
                WHEN has_pii_surface = 1 THEN 'pii'
                WHEN doc_id != keeper_doc_id THEN 'duplicate'
           END AS drop_reason
    FROM j
    """


@register("q42_corpus_curation", _q42_sql())
def q42_corpus_curation(spark, sf_dir):
    from stream_reader_mzxml_spark.pipeline.curation import curate

    return curate(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q44 — precursor-match scoring program (MainPrecursorMzMatchingGlucosinolate
# .scala:90-120 + IonEligibleGlucosinolate.scala:42-59): per spectrum, one
# candidate per nested precursor entry; scoreDaughterIons = #DI reference
# masses with a fragment within 0.2; scoreNeutralLoss = #NL references where
# (m0 − nl) > 0 and a fragment lies within 0.1 of the loss target; keep
# entries with scDI ≥ min && scNL ≥ min (the Seq.filter at :116-118), drop
# spectra left empty (F8 nonEmpty at :119), render the reference's
# ';'-joined report line (IonEligibleGlucosinolate.toString). Fused per-row
# (higher-order fns, zero shuffles, streaming-safe) exactly like q39 —
# the reference computes inside one per-spectrum closure too.
# ---------------------------------------------------------------------------
_Q44_DI = [74.99, 80.0, 96.95, 103.4, 110.97, 118.93, 127.5, 135.97]
_Q44_NL = [20.0, 31.7, 43.4, 55.1, 66.8, 78.5]
_Q44_DI_TOL = 0.2
_Q44_NL_TOL = 0.1
_Q44_MIN_DI = 1  # reference defaults (MainPrecursorMzMatchingGlucosinolate.scala:93-94)
_Q44_MIN_NL = 1
_Q44_NPREC_MOD = 5


def _q44_sql() -> str:
    from stream_reader_mzxml_spark.pipeline import candidate as c

    di = "[" + ", ".join(str(v) for v in _Q44_DI) + "]"
    nl = "[" + ", ".join(str(v) for v in _Q44_NL) + "]"
    m = _Q44_NPREC_MOD
    return f"""
    WITH sp AS (
      SELECT vec_id,
             ((vec_id * 7) % 3600)::BIGINT AS rt,
             list_transform(generate_series(1, {c.PEAK_DIM}), i ->
               {{'mz': 100.0 + embedding[i]::DOUBLE * 10,
                 'intensity': (((vec_id * {c.PEAK_DIM} + i - 1) * 37) % 1000)::DOUBLE}}
             ) AS peaks
      FROM embeddings
    ),
    frag AS (
      SELECT vec_id, rt,
             list_filter(peaks, p -> p.intensity > 0) AS fragments
      FROM sp
    ),
    scored_sp AS (
      SELECT vec_id, rt, fragments,
             length(list_filter({di}, r ->
               length(list_filter(fragments, p ->
                 abs(r - p.mz) < {_Q44_DI_TOL})) > 0)) AS score_di
      FROM frag
    ),
    prec AS (
      SELECT s.vec_id, s.rt, s.fragments, s.score_di, g.i,
             150.0 + e.embedding[g.i]::DOUBLE * 20 AS m0,
             coalesce(
               CASE WHEN ((s.vec_id * {m} + g.i - 1) % 19) = 0 THEN NULL
                    ELSE (((s.vec_id * {m} + g.i - 1) * 37) % 1000)::DOUBLE END,
               -1.0) AS i0
      FROM scored_sp s
      JOIN embeddings e ON s.vec_id = e.vec_id
      CROSS JOIN (SELECT unnest(generate_series(1, {m})) AS i) g
      WHERE g.i <= (s.vec_id % {m}) + 1
    ),
    scored AS (
      SELECT vec_id, rt, m0, i0, score_di,
             length(list_filter({nl}, nl ->
               (m0 - nl) > 0 AND
               length(list_filter(fragments, p ->
                 abs((m0 - nl) - p.mz) < {_Q44_NL_TOL})) > 0)) AS score_nl
      FROM prec
    )
    SELECT vec_id AS num, rt,
           round(m0, 4) AS m0, i0, score_di, score_nl,
           rt::VARCHAR || ';2;' || num::VARCHAR || ';' ||
             printf('%.4f', round(m0, 4)) || ';' || printf('%.1f', i0) || ';' ||
             (score_nl + score_di)::VARCHAR || ';' || score_nl::VARCHAR || ';' ||
             score_di::VARCHAR AS report
    FROM (SELECT vec_id, vec_id AS num, rt, m0, i0, score_di, score_nl
          FROM scored
          WHERE score_di >= {_Q44_MIN_DI} AND score_nl >= {_Q44_MIN_NL})
    """


def precursor_match_scores(emb: DataFrame) -> DataFrame:
    """The q44 program as a standalone plan over an embeddings(-shaped)
    DataFrame — batch or streaming. Fully fused: the spectrum model, the
    fragment list, both scores and the per-precursor expansion are all
    computed in ONE stateless projection from the input row (no self-join —
    the peaks AND the raw embedding are both row-local), so the plan is
    scan → project → generate with zero shuffles, and runs unchanged on a
    streaming DataFrame exactly like q39's fused CandidateIons."""
    from stream_reader_mzxml_spark.pipeline import candidate as c

    sp = c.spectra_from_embeddings(emb, keep_embedding=True).withColumn(
        "rt", F.col("rt").cast("long")
    )
    fragments = F.filter(F.col("peaks"), lambda p: p["intensity"] > 0)
    di_arr = F.array(*[F.lit(v) for v in _Q44_DI])
    nl_arr = F.array(*[F.lit(v) for v in _Q44_NL])
    score_di = F.size(
        F.filter(
            di_arr,
            lambda r: F.exists(
                F.col("fragments"), lambda p: F.abs(r - p["mz"]) < _Q44_DI_TOL
            ),
        )
    )
    m = _Q44_NPREC_MOD
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    n_prec = (F.pmod(F.col("vec_id"), F.lit(m)) + 1).cast("int")

    def scan_num(i):
        return F.col("vec_id") * m + i

    precs = F.transform(
        F.sequence(F.lit(0), n_prec - 1),
        lambda i: F.struct(
            (F.lit(150.0) + F.element_at(v, (i + 1).cast("int")) * 20).alias("m0"),
            F.coalesce(
                F.when(F.pmod(scan_num(i), F.lit(19)) == 0, F.lit(None)).otherwise(
                    F.pmod(scan_num(i) * 37, F.lit(1000)).cast("double")
                ),
                F.lit(-1.0),
            ).alias("i0"),
        ),
    )

    def score_nl(m0):
        return F.size(
            F.filter(
                nl_arr,
                lambda nl: ((m0 - nl) > 0)
                & F.exists(
                    F.col("fragments"),
                    lambda p: F.abs((m0 - nl) - p["mz"]) < _Q44_NL_TOL,
                ),
            )
        )

    scored = F.transform(
        precs,
        lambda pr: F.struct(
            pr["m0"].alias("m0"),
            pr["i0"].alias("i0"),
            score_nl(pr["m0"]).alias("score_nl"),
        ),
    )
    kept = F.filter(
        scored,
        lambda s: (F.col("score_di") >= _Q44_MIN_DI)
        & (s["score_nl"] >= _Q44_MIN_NL),
    )
    out = (
        sp.withColumn("fragments", fragments)
        .withColumn("score_di", score_di)
        .select(
            "vec_id", "rt", "score_di", F.explode(kept).alias("s")
        )
    )
    m0r = F.round(F.col("s.m0"), 4)
    return out.select(
        F.col("vec_id").alias("num"),
        "rt",
        m0r.alias("m0"),
        F.col("s.i0").alias("i0"),
        "score_di",
        F.col("s.score_nl").alias("score_nl"),
        F.concat_ws(
            ";",
            F.col("rt").cast("string"),
            F.lit("2"),
            F.col("vec_id").cast("string"),
            F.format_string("%.4f", m0r),
            F.format_string("%.1f", F.col("s.i0")),
            (F.col("s.score_nl") + F.col("score_di")).cast("string"),
            F.col("s.score_nl").cast("string"),
            F.col("score_di").cast("string"),
        ).alias("report"),
    )


@register("q44_precursor_match_scores", _q44_sql())
def q44_precursor_match_scores(spark, sf_dir):
    return precursor_match_scores(read_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# q62 — the training-data pipeline composed end-to-end (curation → near-dup
# dedup → mixture sampling → sequence packing) with per-stage attribution:
# the LLM-data flagship, built purely from the already-oracle-proven stage
# operators (q42, q26+q54+q55, q57, q58). The oracle restates the SAME
# composition over the stage oracles' SQL, including the recursive-closure
# component semantics — so the whole chain is value-proven, not just parts.
# ---------------------------------------------------------------------------
def _q62_sql() -> str:
    from stream_reader_mzxml_spark.pipeline import mixing
    from stream_reader_mzxml_spark.plans.pipeline_queries import (
        _H32,
        _minhash_sql,
    )

    ws = "length(regexp_extract_all({t}, '\\S+'))"
    B = mixing.PACK_LEN
    return f"""
    WITH RECURSIVE
    curv AS (SELECT doc_id, keep FROM ({_q42_sql()})),
    kept AS (
      SELECT d.doc_id, d.text, d.source
      FROM documents d JOIN curv c ON d.doc_id = c.doc_id AND c.keep = 1
    ),
    pr AS (SELECT a_id, b_id FROM ({_minhash_sql("kept")})),
    edges AS (
      SELECT a_id AS a, b_id AS b FROM pr
      UNION
      SELECT b_id, a_id FROM pr
    ),
    nodes AS (SELECT DISTINCT a AS n FROM edges),
    reach(n, r) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.n
    ),
    comp AS (SELECT n AS doc_id, min(r) AS keeper FROM reach GROUP BY n),
    ded AS (
      SELECT k.doc_id,
             CASE WHEN coalesce(c.keeper, k.doc_id) = k.doc_id
                  THEN 1 ELSE 0 END AS keep_dedup
      FROM kept k LEFT JOIN comp c USING (doc_id)
    ),
    toks2 AS (
      SELECT k.doc_id, k.source, {ws.format(t="k.text")} AS n_tokens
      FROM kept k JOIN ded ON k.doc_id = ded.doc_id AND ded.keep_dedup = 1
    ),
    tot AS (SELECT source, sum(n_tokens)::BIGINT AS src_tokens
            FROM toks2 GROUP BY 1),
    mix AS (
      SELECT t.doc_id,
             CASE WHEN ({_H32.format(x="t.doc_id::VARCHAR")} % {mixing.MIX_RES})
                       * tot.src_tokens
                       < {mixing.MIX_TARGET_TOKENS} * {mixing.MIX_RES}
                  THEN 1 ELSE 0 END AS sampled
      FROM toks2 t JOIN tot USING (source)
    ),
    surv3 AS (
      SELECT t.doc_id, t.source, t.n_tokens
      FROM toks2 t JOIN mix ON t.doc_id = mix.doc_id AND mix.sampled = 1
    ),
    pk AS (
      SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS cum_before
      FROM surv3
    ),
    pk2 AS (
      SELECT doc_id, cum_before,
             (cum_before // {B})::BIGINT AS first_seq,
             ((cum_before + greatest(n_tokens, 1) - 1) // {B})::BIGINT
               AS last_seq
      FROM pk
    )
    SELECT d.doc_id, d.source, {ws.format(t="d.text")} AS n_tokens,
           curv.keep AS keep_curation,
           ded.keep_dedup, mix.sampled,
           pk2.cum_before, pk2.first_seq, pk2.last_seq
    FROM documents d
    LEFT JOIN curv ON d.doc_id = curv.doc_id
    LEFT JOIN ded ON d.doc_id = ded.doc_id
    LEFT JOIN mix ON d.doc_id = mix.doc_id
    LEFT JOIN pk2 ON d.doc_id = pk2.doc_id
    """


@register("q62_training_manifest", _q62_sql())
def q62_training_manifest(spark, sf_dir):
    from stream_reader_mzxml_spark.pipeline.curation import training_manifest

    return training_manifest(read_table(spark, sf_dir, "documents"))
