"""Training-data pipeline query battery (q20-q31) — dedup, similarity search,
text analysis, multimodal plumbing — over the driver's ``documents`` /
``embeddings`` tables, each with a DuckDB oracle built from the SAME
deterministic constants (md5-prefix h32 hashes, seeded MinHash permutations,
seeded hyperplanes), so both engines compute bit-identical results.

Float parity rule: every dot product / fold is an ORDERED left fold on both
sides — Spark ``F.aggregate`` ≡ DuckDB ``list_reduce`` with a prepended
zero-init — so IEEE double results are bit-identical, then rounded for the
value-hash compare.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stream_reader_mzxml_spark.pipeline import (
    curation,
    decontam,
    dedup,
    mixing,
    multimodal,
    similarity,
    text,
)
from stream_reader_mzxml_spark.plans import register
from stream_reader_mzxml_spark.sources.readers import read_table


# shared SQL fragments -------------------------------------------------------

_H32 = "('0x' || substr(md5({x}), 1, 8))::BIGINT"

_SHINGLES = f"""
  list_distinct(list_transform(
    generate_series(1, length(ws) - 2),
    i -> {_H32.format(x="ws[i] || '|' || ws[i+1] || '|' || ws[i+2]")}
  ))
"""

_FOLD_DOT = (
    "list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64), "
    "i -> {a}[i] * {b}[i])), (acc, x) -> acc + x)"
)
_FOLD_NORM = (
    "sqrt(list_reduce(list_prepend(0.0, list_transform({v}, x -> x * x)), "
    "(acc, x) -> acc + x))"
)


# ---------------------------------------------------------------------------
# q20 — token counting (whitespace + regex word runs)
# ---------------------------------------------------------------------------
@register(
    "q20_token_counts",
    """
    SELECT doc_id,
           length(regexp_extract_all(text, '\\S+'))      AS n_ws_tokens,
           length(regexp_extract_all(text, '[a-z0-9]+')) AS n_re_tokens,
           length(text)                                  AS n_chars
    FROM documents
    """,
)
def q20_token_counts(spark, sf_dir):
    return text.token_counts(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q21 — quality scoring (length / word-length / stopword-ratio features)
# ---------------------------------------------------------------------------
_SW_EN = ", ".join(f"'{s}'" for s in text.LANG_STOPWORDS["en"])

@register(
    "q21_quality_scores",
    f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws, length(text) AS nc
      FROM documents
    ), f AS (
      SELECT doc_id,
             length(ws) AS n_words,
             (nc - (length(ws) - 1)) / length(ws) AS mwl,
             length(list_filter(ws, x -> list_contains([{_SW_EN}], x))) AS n_stop
      FROM w
    )
    SELECT doc_id, n_words,
           round(mwl, 6) AS mean_word_len,
           n_stop AS n_stopwords,
           round(n_stop / n_words, 6) AS stop_ratio,
           CASE WHEN n_words < 5 THEN 0.0
                WHEN mwl < 2.0 THEN 0.25
                ELSE round(least(1.0, (n_stop / n_words) * 4.0) * 0.5
                         + least(1.0, n_words / 24.0) * 0.5, 6)
           END AS quality_score
    FROM f
    """,
)
def q21_quality_scores(spark, sf_dir):
    return text.quality_features(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q22 — language-ID heuristic (stopword hit-rate argmax)
# ---------------------------------------------------------------------------
def _lang_sql() -> str:
    langs = sorted(text.LANG_STOPWORDS)
    hits = ",\n           ".join(
        f"length(list_filter(ws, x -> list_contains(["
        + ", ".join(f"'{s}'" for s in text.LANG_STOPWORDS[lang])
        + f"], x))) AS hits_{lang}"
        for lang in langs
    )
    maxh = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    pred = "'und'"
    for lang in reversed(langs):
        pred = f"CASE WHEN hits_{lang} = {maxh} AND {maxh} > 0 THEN '{lang}' ELSE {pred} END"
    cols = ", ".join(f"hits_{lang}" for lang in langs)
    return f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    h AS (
      SELECT doc_id,
           {hits}
      FROM w
    )
    SELECT doc_id, {cols}, {pred} AS pred_lang FROM h
    """


@register("q22_lang_id", _lang_sql())
def q22_lang_id(spark, sf_dir):
    return text.lang_id(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q23 — rolling-hash document fingerprint (ordered fold over word h32s)
# ---------------------------------------------------------------------------
@register(
    "q23_fingerprint",
    f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    SELECT doc_id,
           list_reduce(
             list_prepend(0::BIGINT,
               list_transform(ws, t -> {_H32.format(x="t")})),
             (acc, x) -> (acc * {text.FNV_PRIME} + x) % {text.FOLD_MOD}
           ) AS fingerprint,
           length(ws) AS n_words
    FROM w
    """,
)
def q23_fingerprint(spark, sf_dir):
    return text.fingerprint(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q24 — exact dedup (content-digest groups, deterministic keeper)
# ---------------------------------------------------------------------------
@register(
    "q24_exact_dedup",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS keeper_doc_id,
           count(*) AS n_copies
    FROM documents GROUP BY text_hash
    """,
)
def q24_exact_dedup(spark, sf_dir):
    return dedup.exact_dedup(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q25 — exact n-gram Jaccard near-dup pairs (inverted-index join with
# frequent-shingle pruning: shingles in > NGRAM_MAX_DF docs are dropped on
# BOTH sides before the self-join; Jaccard is exact over the pruned space)
# ---------------------------------------------------------------------------
@register(
    "q25_ngram_jaccard",
    f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM w),
    ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    freq AS (SELECT s FROM ex0 GROUP BY s HAVING count(*) > {dedup.NGRAM_MAX_DF}),
    ex1 AS (SELECT doc_id, s FROM ex0 ANTI JOIN freq USING (s)),
    cnt AS (SELECT doc_id, count(*) AS n_sh FROM ex1 GROUP BY doc_id),
    ex AS (SELECT e.doc_id, e.s, c.n_sh FROM ex1 e JOIN cnt c USING (doc_id)),
    p AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.n_sh AS n_a, b.n_sh AS n_b,
             count(*) AS n_int
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT a_id, b_id, jaccard FROM (
      SELECT a_id, b_id, round(n_int / (n_a + n_b - n_int), 6) AS jaccard FROM p
    ) WHERE jaccard >= 0.8
    """,
)
def q25_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        read_table(spark, sf_dir, "documents"), threshold=0.8
    )


# ---------------------------------------------------------------------------
# q26 — MinHash + LSH near-dup candidates with estimated Jaccard
# ---------------------------------------------------------------------------
def _minhash_sql(src: str = "documents") -> str:
    k, bands = dedup.MINHASH_K, dedup.MINHASH_BANDS
    r = k // bands
    mins = ",\n        ".join(
        f"list_min(list_transform(shingles, h -> (h * {a} + {b}) % {dedup.MINHASH_PRIME}))"
        for a, b in dedup.MINHASH_PERMS[:k]
    )
    return f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM {src}),
    sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM w),
    sig AS (
      SELECT doc_id, [
        {mins}
      ] AS sig
      FROM sh WHERE length(shingles) > 0
    ),
    banded AS (
      SELECT doc_id, sig, g.j AS band_idx,
             list_slice(sig, g.j * {r} + 1, g.j * {r} + {r}) AS band
      FROM sig, (SELECT unnest(generate_series(0, {bands - 1})) AS j) g
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                      a.sig AS sig_a, b.sig AS sig_b
      FROM banded a
      JOIN banded b ON a.band_idx = b.band_idx AND a.band = b.band
                   AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id, est_jaccard FROM (
      SELECT a_id, b_id,
             round(length(list_filter(generate_series(1, {k}),
                          i -> sig_a[i] = sig_b[i])) / {k}.0, 6) AS est_jaccard
      FROM cand
    ) WHERE est_jaccard >= 0.5
    """


@register("q26_minhash_lsh", _minhash_sql())
def q26_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(
        read_table(spark, sf_dir, "documents"), threshold=0.5
    )


# ---------------------------------------------------------------------------
# q27 — SimHash near-dup pairs (banded plan ≡ all-pairs by pigeonhole).
# Round-2 re-band: 60-bit signature (h60 = 15 md5 hex chars), 4×15-bit bands
# (131k join-key values vs the old 128), hamming ≤ 3 (< #bands keeps the
# pigeonhole recall-1 guarantee). The oracle runs the ALL-PAIRS plan over the
# same signatures, so the banded candidate join is proven complete, not just
# plausible.
# ---------------------------------------------------------------------------
_H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

@register(
    "q27_simhash",
    f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    tf AS (
      SELECT doc_id,
             list_transform(list_distinct(ws),
               u -> {{'h': {_H60.format(x="u")},
                      'tf': length(list_filter(ws, x -> x = u))}}) AS pairs
      FROM w
    ),
    bits AS (
      SELECT doc_id, g.j,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(pairs, p -> p.tf * ((((p.h >> g.j) & 1) * 2) - 1))),
               (acc, x) -> acc + x) AS s
      FROM tf, (SELECT unnest(generate_series(0, {dedup.SIMHASH_BITS - 1})) AS j) g
    ),
    sim AS (
      SELECT doc_id,
             sum(CASE WHEN s >= 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS sim
      FROM bits GROUP BY doc_id
    )
    SELECT a_id, b_id, hamming FROM (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             bit_count(xor(a.sim, b.sim)) AS hamming
      FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    ) WHERE hamming <= 3
    """,
)
def q27_simhash(spark, sf_dir):
    return dedup.simhash_neardup_pairs(
        read_table(spark, sf_dir, "documents"), max_hamming=3
    )


# ---------------------------------------------------------------------------
# q29 — brute-force cosine top-k (ANN correctness baseline)
# ---------------------------------------------------------------------------
@register(
    "q29_cosine_topk",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ),
    n AS (SELECT vec_id, v, {_FOLD_NORM.format(v="v")} AS norm FROM e),
    c AS (
      SELECT p.vec_id AS p_id, q.vec_id AS n_id,
             round({_FOLD_DOT.format(a="p.v", b="q.v")} / (p.norm * q.norm), 6)
               AS cosine
      FROM n p JOIN n q ON p.vec_id < 5 AND p.vec_id != q.vec_id
    )
    SELECT p_id, n_id, cosine, rank FROM (
      SELECT p_id, n_id, cosine,
             row_number() OVER (PARTITION BY p_id ORDER BY cosine DESC, n_id) AS rank
      FROM c
    ) WHERE rank <= 10
    """,
)
def q29_cosine_topk(spark, sf_dir):
    return similarity.cosine_topk(
        read_table(spark, sf_dir, "embeddings"), n_probes=5, k=10
    )


# ---------------------------------------------------------------------------
# q30 — LSH-bucketed ANN top-k (hyperplane buckets + ±2-bit multi-probe,
# the scale path)
# ---------------------------------------------------------------------------
def _lsh_ann_sql() -> str:
    planes = similarity.hyperplanes()
    rows = ",\n        ".join(
        f"({p}, [" + ", ".join(str(float(x)) for x in plane) + "])"
        for p, plane in enumerate(planes)
    )
    flips = ", ".join(str(m) for m in similarity.PROBE_FLIPS)
    dot_plane = _FOLD_DOT.format(a="n.v", b="pl.plane")
    return f"""
    WITH planes(p, plane) AS (VALUES
        {rows}
    ),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ),
    n AS (SELECT vec_id, v, {_FOLD_NORM.format(v="v")} AS norm FROM e),
    bkt AS (
      SELECT n.vec_id,
             sum(CASE WHEN {dot_plane} >= 0 THEN (1 << pl.p) ELSE 0 END)::BIGINT
               AS bucket
      FROM n, planes pl GROUP BY n.vec_id
    ),
    nb AS (SELECT n.vec_id, n.v, n.norm, bkt.bucket
           FROM n JOIN bkt ON n.vec_id = bkt.vec_id),
    -- multi-probe: each probe searches its own bucket plus every bucket
    -- within hamming 2 (similarity.PROBE_FLIPS)
    pv AS (
      SELECT nb.vec_id, nb.v, nb.norm, xor(nb.bucket, f.m) AS bucket
      FROM nb, (SELECT unnest([{flips}]::BIGINT[]) AS m) f
      WHERE nb.vec_id < 5
    ),
    c AS (
      SELECT p.vec_id AS p_id, p.bucket, q.vec_id AS n_id,
             round({_FOLD_DOT.format(a="p.v", b="q.v")} / (p.norm * q.norm), 6)
               AS cosine
      FROM pv p JOIN nb q ON p.bucket = q.bucket
      WHERE p.vec_id != q.vec_id
    )
    SELECT p_id, bucket, n_id, cosine, rank FROM (
      SELECT p_id, bucket, n_id, cosine,
             row_number() OVER (PARTITION BY p_id ORDER BY cosine DESC, n_id) AS rank
      FROM c
    ) WHERE rank <= 10
    """


@register("q30_lsh_ann_topk", _lsh_ann_sql())
def q30_lsh_ann_topk(spark, sf_dir):
    return similarity.lsh_ann_topk(
        read_table(spark, sf_dir, "embeddings"), n_probes=5, k=10
    )


# ---------------------------------------------------------------------------
# q31 — multimodal plumbing: binary payload + deterministic stub featurize
# (np.array_split chunking reproduced in SQL: first l%4 chunks get an extra
# byte; mean byte value per chunk). The feature vector is rendered as a
# ';'-joined %.6f string because the driver's canonicalizer cannot hash
# array<double> cells; the array-typed form stays the API (multimodal.py)
# and is exercised by tests. Oracle is padded to exactly 4 chunks (LEFT JOIN
# against generate_series(0,3) + coalesce 0.0) so texts shorter than 4 chars
# match the stub's fixed-dim output; assumes ASCII text (datagen guarantees —
# ascii()/substr() are char-based, the stub is byte-based).
# ---------------------------------------------------------------------------
@register(
    "q31_multimodal_features",
    """
    WITH chars AS (
      SELECT doc_id, length(text) AS l,
             unnest(generate_series(1, length(text))) AS i
      FROM documents
    ),
    tagged AS (
      SELECT c.doc_id, c.l, c.i,
             ascii(substr(d.text, c.i, 1)) AS b,
             CASE WHEN (c.i - 1) < ((c.l // 4) + 1) * (c.l % 4)
                  THEN (c.i - 1) // ((c.l // 4) + 1)
                  ELSE (c.l % 4) + ((c.i - 1) - ((c.l // 4) + 1) * (c.l % 4)) // (c.l // 4)
             END AS chunk
      FROM chars c JOIN documents d ON c.doc_id = d.doc_id
    ),
    chunked AS (
      -- round_even: the stub uses Python round() (banker's); chunk means over
      -- power-of-two counts hit exact .5 ties at the 7th decimal
      SELECT doc_id, l, chunk, round_even(avg(b), 6) AS m
      FROM tagged GROUP BY doc_id, l, chunk
    ),
    docs4 AS (
      SELECT d.doc_id, length(d.text) AS l, gs.chunk
      FROM documents d
      CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS chunk) gs
    )
    SELECT d4.doc_id, 'text/plain' AS media_type, d4.l AS n_bytes,
           string_agg(printf('%.6f', coalesce(c.m, 0.0)), ';' ORDER BY d4.chunk)
             AS feature_str
    FROM docs4 d4
    LEFT JOIN chunked c ON d4.doc_id = c.doc_id AND d4.chunk = c.chunk
    GROUP BY d4.doc_id, d4.l
    """,
)
def q31_multimodal_features(spark, sf_dir):
    media = multimodal.documents_as_media(read_table(spark, sf_dir, "documents"))
    feat = multimodal.featurize(media, decode_stub=True)
    return feat.select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.array_join(
            F.transform("feature", lambda x: F.format_string("%.6f", x)), ";"
        ).alias("feature_str"),
    )


# ---------------------------------------------------------------------------
# q31b — the REAL PNM codec, driver-green: deterministic binary P6 payloads
# (pixel s of doc d = (d*31 + s*7) % 256, built executor-side in
# mapInPandas) flow through featurize(decode_stub=False) → decode_pnm — and
# the oracle predicts the decoded per-channel means ANALYTICALLY (channel =
# s % 3), with no image library on either engine. Mirrors q31's conventions:
# feature rendered as a ';'-joined %.6f string (array<double> cells don't
# hash), Python round() ↔ round_even (means are k/128 — exact .5 ties at
# the 7th decimal).
# ---------------------------------------------------------------------------
_Q31B_HDR_LEN = len(
    "P6\n{} {}\n255\n".format(multimodal.PNM_FIX_W, multimodal.PNM_FIX_H)
)


@register(
    "q31b_pnm_codec",
    f"""
    WITH ids AS (
      SELECT doc_id FROM documents WHERE doc_id < {multimodal.PNM_FIX_N}
    ),
    sam AS (
      SELECT i.doc_id, u.s, (i.doc_id * 31 + u.s * 7) % 256 AS v
      FROM ids i CROSS JOIN (
        SELECT unnest(generate_series(
          0, {multimodal.PNM_FIX_W * multimodal.PNM_FIX_H * 3 - 1})) AS s
      ) u
    ),
    ch AS (
      SELECT doc_id, s % 3 AS c, round_even(avg(v), 6) AS m
      FROM sam GROUP BY doc_id, s % 3
    )
    SELECT doc_id, 'image/ppm' AS media_type,
           {_Q31B_HDR_LEN + multimodal.PNM_FIX_W * multimodal.PNM_FIX_H * 3}
             AS n_bytes,
           string_agg(printf('%.6f', m), ';' ORDER BY c) || ';0.000000'
             AS feature_str
    FROM ch GROUP BY doc_id
    """,
)
def q31b_pnm_codec(spark, sf_dir):
    media = multimodal.pnm_fixture_media(read_table(spark, sf_dir, "documents"))
    feat = multimodal.featurize(media, decode_stub=False)
    return feat.select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.array_join(
            F.transform("feature", lambda x: F.format_string("%.6f", x)), ";"
        ).alias("feature_str"),
    )


# ---------------------------------------------------------------------------
# q32 — isotope-pattern neighbor match (the MainGlucosinolates.scala:163-191
# processSpectrum kernel re-expressed): per record, count elements that have
# a +delta neighbor within tol whose value ratio falls in an abundance band.
# JVM higher-order exists/filter — no Python in the hot path.
# ---------------------------------------------------------------------------
_ISO_DELTA = 0.5  # the "M+1 spacing" rescaled to the embeddings value range
_ISO_TOL = 0.05
_ISO_LO, _ISO_HI = -10.0, 10.0


@register(
    "q32_isotope_match",
    f"""
    SELECT vec_id, n_matched, n_elems FROM (
      SELECT vec_id,
             length(list_filter(v, x ->
               length(list_filter(v, y ->
                 abs(y - (x + {_ISO_DELTA})) < {_ISO_TOL}
                 AND y / x >= {_ISO_LO} AND y / x <= {_ISO_HI})) > 0)) AS n_matched,
             length(v) AS n_elems
      FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings)
    ) WHERE n_matched > 0
    """,
)
def q32_isotope_match(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    matched = F.size(
        F.filter(
            v,
            lambda x: F.exists(
                v,
                lambda y: (F.abs(y - (x + F.lit(_ISO_DELTA))) < F.lit(_ISO_TOL))
                & (y / x >= F.lit(_ISO_LO))
                & (y / x <= F.lit(_ISO_HI)),
            ),
        )
    )
    return (
        emb.select(
            "vec_id", matched.alias("n_matched"), F.size("embedding").alias("n_elems")
        )
        .filter(F.col("n_matched") > 0)
    )


# ---------------------------------------------------------------------------
# q33 — band-score vs a broadcast reference list (A10 scoreNeutralLoss /
# scoreDaughterIons, IonEligibleGlucosinolate.scala:42-59): count of refs
# having at least one array element within tol — via the Arrow-vectorized
# kernel (functions.kernels.make_band_score_udf), oracle in plain SQL.
# ---------------------------------------------------------------------------
_SCORE_REFS = [-0.4, -0.25, -0.1, 0.0, 0.1, 0.25, 0.4]
_SCORE_TOL = 0.02


@register(
    "q33_band_score",
    f"""
    SELECT vec_id, score FROM (
      SELECT vec_id,
             length(list_filter([{", ".join(str(r) for r in _SCORE_REFS)}], r ->
               length(list_filter(v, x -> abs(x - r) < {_SCORE_TOL})) > 0)) AS score
      FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings)
    ) WHERE score >= 3
    """,
)
def q33_band_score(spark, sf_dir):
    from stream_reader_mzxml_spark.functions.kernels import make_band_score_udf

    emb = read_table(spark, sf_dir, "embeddings")
    udf = make_band_score_udf(_SCORE_REFS, _SCORE_TOL)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return (
        emb.select("vec_id", udf(v).cast("int").alias("score"))
        .filter(F.col("score") >= 3)
    )


# ---------------------------------------------------------------------------
# q48 — benchmark decontamination: n-gram overlap vs a (small) eval set.
# Benchmark docs = doc_id % 97 == 0 (a deterministic stand-in eval corpus);
# training corpus = the rest. The benchmark gram set is broadcast — the
# corpus-side plan is one scan + one doc_id groupBy, the 100-TB shape.
# ---------------------------------------------------------------------------
@register(
    "q48_decontamination",
    f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM w),
    bg AS (SELECT DISTINCT unnest(shingles) AS g FROM sh WHERE doc_id % 97 = 0),
    ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh WHERE doc_id % 97 != 0),
    hits AS (
      SELECT ex.doc_id, count(*) AS n_grams, count(bg.g) AS n_hit
      FROM ex LEFT JOIN bg ON ex.g = bg.g
      GROUP BY ex.doc_id
    )
    SELECT s.doc_id,
           coalesce(h.n_grams, 0) AS n_grams,
           coalesce(h.n_hit, 0) AS n_hit,
           CASE WHEN coalesce(h.n_grams, 0) > 0
                THEN round(h.n_hit / h.n_grams, 6) ELSE 0.0 END AS contam_frac,
           CASE WHEN coalesce(h.n_grams, 0) > 0
                 AND h.n_hit / h.n_grams >= {decontam.CONTAM_THRESHOLD}
                THEN 1 ELSE 0 END AS contaminated
    FROM (SELECT doc_id FROM sh WHERE doc_id % 97 != 0) s
    LEFT JOIN hits h ON s.doc_id = h.doc_id
    """,
)
def q48_decontamination(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    return decontam.ngram_decontaminate(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
    )


# ---------------------------------------------------------------------------
# q49 — IVF-style ANN top-k: centroid-partitioned candidate search (the
# inverted-file scale path; q30's LSH buckets are the hash-partitioned
# alternative). Deterministic centroid seeds (vec_id % 31 == 0), nprobe=2.
# Oracle replicates the IVF *plan* (assignment + probed partitions), as the
# LSH oracle replicates the bucketed plan.
# ---------------------------------------------------------------------------
@register(
    "q49_ivf_ann_topk",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ),
    n AS (SELECT vec_id, v, {_FOLD_NORM.format(v="v")} AS norm FROM e),
    cent AS (SELECT vec_id AS cid, v, norm FROM n
             WHERE vec_id % {similarity.IVF_STRIDE} = 0),
    asn AS (
      SELECT n.vec_id, c.cid,
             {_FOLD_DOT.format(a="n.v", b="c.v")} / (n.norm * c.norm) AS ccos
      FROM n, cent c
    ),
    ranked AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS cr
      FROM asn
    ),
    corpus AS (
      SELECT n.vec_id AS n_id, n.v, n.norm, r.cid AS cluster
      FROM n JOIN ranked r ON n.vec_id = r.vec_id AND r.cr = 1
    ),
    probes AS (
      SELECT n.vec_id AS p_id, n.v, n.norm, r.cid AS cluster
      FROM n JOIN ranked r ON n.vec_id = r.vec_id
        AND r.cr <= {similarity.IVF_NPROBE}
      WHERE n.vec_id < 5
    ),
    c AS (
      SELECT p.p_id, p.cluster, q.n_id,
             round({_FOLD_DOT.format(a="p.v", b="q.v")} / (p.norm * q.norm), 6)
               AS cosine
      FROM probes p JOIN corpus q ON p.cluster = q.cluster
      WHERE p.p_id != q.n_id
    )
    SELECT p_id, cluster, n_id, cosine, rank FROM (
      SELECT p_id, cluster, n_id, cosine,
             row_number() OVER (PARTITION BY p_id ORDER BY cosine DESC, n_id) AS rank
      FROM c
    ) WHERE rank <= 10
    """,
)
def q49_ivf_ann_topk(spark, sf_dir):
    return similarity.ivf_topk(
        read_table(spark, sf_dir, "embeddings"), n_probes=5, k=10
    )


# ---------------------------------------------------------------------------
# q50 — per-domain caps (stratified sampling): seeded-uniform top-`cap` docs
# per source via top_k, whose WindowGroupLimit Partial caps each input
# partition's rows per source before the shuffle (a source is the Zipf-hot
# axis).
# ---------------------------------------------------------------------------
@register(
    "q50_domain_caps",
    f"""
    SELECT source, doc_id, priority, rank FROM (
      SELECT source, doc_id,
             {_H32.format(x="'cap:' || doc_id::VARCHAR")} AS priority,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {_H32.format(x="'cap:' || doc_id::VARCHAR")}, doc_id
             ) AS rank
      FROM documents
    ) WHERE rank <= {10}
    """,
)
def q50_domain_caps(spark, sf_dir):
    return curation.domain_caps(read_table(spark, sf_dir, "documents"), cap=10)


# ---------------------------------------------------------------------------
# q51 — cross-doc segment dedup (line-level dedup analog): non-overlapping
# 8-word segment hashes; segments in >1 distinct doc are duplicated; per-doc
# duplicated-segment fraction.
# ---------------------------------------------------------------------------
_SEG_W = 8
_SEGS = f"""
  list_distinct(list_transform(
    generate_series(0, (length(ws) // {_SEG_W}) - 1),
    i -> {_H32.format(x=f"array_to_string(ws[i*{_SEG_W}+1 : i*{_SEG_W}+{_SEG_W}], '|')")}
  ))
"""


@register(
    "q51_segment_dedup",
    f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sg AS (SELECT doc_id, {_SEGS} AS segs FROM w),
    ex AS (SELECT doc_id, unnest(segs) AS seg FROM sg),
    dfreq AS (SELECT seg, count(*) AS n_docs FROM ex GROUP BY seg),
    agg AS (
      SELECT ex.doc_id,
             count(*) AS n_segments,
             count(*) FILTER (WHERE d.n_docs > 1) AS n_dup_segments
      FROM ex JOIN dfreq d ON ex.seg = d.seg
      GROUP BY ex.doc_id
    )
    SELECT sg.doc_id,
           coalesce(a.n_segments, 0) AS n_segments,
           coalesce(a.n_dup_segments, 0) AS n_dup_segments,
           CASE WHEN coalesce(a.n_segments, 0) > 0
                THEN round(a.n_dup_segments / a.n_segments, 6)
                ELSE 0.0 END AS dup_frac
    FROM sg LEFT JOIN agg a ON sg.doc_id = a.doc_id
    """,
)
def q51_segment_dedup(spark, sf_dir):
    return dedup.segment_dedup(read_table(spark, sf_dir, "documents"), width=_SEG_W)


# ---------------------------------------------------------------------------
# q52 — context-length chunking: fixed-length training chunks per doc with a
# min-tail policy and an ordered rolling checksum per chunk. Zero-shuffle
# scan-side fan-out (posexplode) — the sequence-preparation step of the
# tokenized-corpus writer; runs unchanged on a stream.
# ---------------------------------------------------------------------------
_CHK = (
    "list_reduce(list_prepend(0::BIGINT, {c}), "
    f"(acc, x) -> (acc * {text.FNV_PRIME} + x) % {text.FOLD_MOD})"
)


@register(
    "q52_context_chunks",
    f"""
    WITH w AS (
      SELECT doc_id,
             list_transform(regexp_extract_all(text, '[a-z0-9]+'),
                            t -> {_H32.format(x="t")}) AS hs
      FROM documents
    ),
    c AS (
      SELECT doc_id, hs,
             (length(hs) // {text.CHUNK_LEN})
               + CASE WHEN length(hs) % {text.CHUNK_LEN} >= {text.CHUNK_MIN_TAIL}
                      THEN 1 ELSE 0 END AS n_chunks
      FROM w
    ),
    ex AS (
      SELECT doc_id, i AS chunk_idx,
             hs[i*{text.CHUNK_LEN}+1 : i*{text.CHUNK_LEN}+{text.CHUNK_LEN}] AS chunk
      FROM c, unnest(generate_series(0, n_chunks - 1)) AS t(i)
    )
    SELECT doc_id, chunk_idx, length(chunk) AS chunk_len,
           {_CHK.format(c="chunk")} AS checksum
    FROM ex
    """,
)
def q52_context_chunks(spark, sf_dir):
    return text.context_chunks(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q53 — per-source token-distribution drift vs corpus (KL + total variation
# over a 64-bucket token-hash histogram): data-mixture QA. Both divergences
# are ordered folds over buckets ascending — bit-identical to the oracle.
# ---------------------------------------------------------------------------
@register(
    "q53_source_drift",
    f"""
    WITH ex AS (
      SELECT source, {_H32.format(x="w")} % {text.DRIFT_BUCKETS} AS bucket
      FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
    ),
    sb AS (SELECT source, bucket, count(*) AS c_sb FROM ex GROUP BY 1, 2),
    b AS (SELECT bucket, sum(c_sb)::BIGINT AS c_b FROM sb GROUP BY 1),
    tot AS (SELECT sum(c_sb)::BIGINT AS c_tot FROM sb),
    st AS (SELECT source, sum(c_sb)::BIGINT AS c_s FROM sb GROUP BY 1),
    dense AS (
      SELECT st.source, st.c_s, b.bucket,
             coalesce(sb.c_sb, 0) AS c_sb, b.c_b, tot.c_tot
      FROM st CROSS JOIN b CROSS JOIN tot
      LEFT JOIN sb ON sb.source = st.source AND sb.bucket = b.bucket
    ),
    pairs AS (
      SELECT source, c_s,
             list(struct_pack(bucket := bucket,
                              p := c_sb / c_s,
                              q := c_b / c_tot) ORDER BY bucket) AS pq
      FROM dense GROUP BY 1, 2
    )
    SELECT source, c_s AS n_tokens,
           round(list_reduce(list_prepend(0.0, list_transform(pq,
                 x -> CASE WHEN x.p > 0 THEN x.p * ln(x.p / x.q)
                           ELSE 0.0 END)),
                 (acc, y) -> acc + y), 6) AS kl_divergence,
           round(list_reduce(list_prepend(0.0, list_transform(pq,
                 x -> abs(x.p - x.q))),
                 (acc, y) -> acc + y) / 2.0, 6) AS tv_distance
    FROM pairs
    """,
)
def q53_source_drift(spark, sf_dir):
    return text.source_drift(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q54 — near-dup clusters: connected components over the MinHash+LSH pair
# graph (q26's edges), via alternating large-star/small-star — the step that
# turns pairwise near-dup output into per-cluster keep/drop decisions. The
# oracle computes the same components with a recursive transitive closure
# (min reachable doc_id per node), so the O(log n)-round distributed
# algorithm is checked against a directly-stated fixpoint semantics.
# ---------------------------------------------------------------------------
@register(
    "q54_dedup_clusters",
    f"""
    WITH RECURSIVE pr AS (SELECT a_id, b_id FROM ({_minhash_sql()})),
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
    comp AS (SELECT n AS doc_id, min(r) AS component_id FROM reach GROUP BY n),
    sz AS (SELECT component_id, count(*) AS cluster_size
           FROM comp GROUP BY component_id)
    SELECT c.doc_id, c.component_id, s.cluster_size
    FROM comp c JOIN sz s USING (component_id)
    """,
)
def q54_dedup_clusters(spark, sf_dir):
    pairs = dedup.minhash_lsh_pairs(
        read_table(spark, sf_dir, "documents"), threshold=0.5
    )
    return dedup.connected_components(pairs)


# ---------------------------------------------------------------------------
# q55 — dedup apply: per-doc keep/drop from the q54 clusters (keeper = min
# doc_id per component; unclustered docs keep themselves). The corpus-side
# plan is one left join on doc_id against the cluster-members-only map.
# ---------------------------------------------------------------------------
@register(
    "q55_dedup_apply",
    f"""
    WITH RECURSIVE pr AS (SELECT a_id, b_id FROM ({_minhash_sql()})),
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
    comp AS (SELECT n AS doc_id, min(r) AS keeper FROM reach GROUP BY n)
    SELECT d.doc_id,
           coalesce(c.keeper, d.doc_id) AS keeper_doc_id,
           CASE WHEN coalesce(c.keeper, d.doc_id) = d.doc_id
                THEN 1 ELSE 0 END AS keep
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
)
def q55_dedup_apply(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    comps = dedup.connected_components(
        dedup.minhash_lsh_pairs(docs, threshold=0.5)
    )
    return curation.dedup_apply(docs, comps)


# ---------------------------------------------------------------------------
# q56 — TF-IDF term scoring (smoothed sklearn idf over h32 term hashes):
# two partial-agg'd groupBys + a 1-row broadcast for N. Scores, not ranks —
# ranking is q13/q36's operator; emitting scores keeps the float compare
# ulp-safe under round(6).
# ---------------------------------------------------------------------------
@register(
    "q56_tfidf",
    f"""
    WITH ex AS (
      SELECT doc_id, {_H32.format(x="w")} AS term_h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
    ),
    tf AS (SELECT doc_id, term_h, count(*) AS tf FROM ex GROUP BY 1, 2),
    dfreq AS (SELECT term_h, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term_h, tf.tf, d.df,
           round(tf.tf * (ln((n.n_docs + 1) / (d.df + 1)) + 1), 6) AS tf_idf
    FROM tf JOIN dfreq d USING (term_h) CROSS JOIN n
    WHERE tf.tf >= {text.TFIDF_MIN_TF}
    """,
)
def q56_tfidf(spark, sf_dir):
    return text.tfidf_scores(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q57 — mixture sampling: deterministic per-source downsampling to a token
# budget. Totals are a ~#sources-row aggregate broadcast back; the keep test
# is exact BIGINT arithmetic, so the oracle reproduces it bit-for-bit.
# ---------------------------------------------------------------------------
_WS_TOKS = "length(regexp_extract_all(text, '\\S+'))"


@register(
    "q57_mixture_sample",
    f"""
    WITH toks AS (
      SELECT doc_id, source, {_WS_TOKS} AS n_tokens FROM documents
    ),
    tot AS (SELECT source, sum(n_tokens)::BIGINT AS src_tokens
            FROM toks GROUP BY 1)
    SELECT t.doc_id, t.source, t.n_tokens, tot.src_tokens,
           round(least(1.0, {mixing.MIX_TARGET_TOKENS}.0 / greatest(tot.src_tokens, 1)), 6)
             AS keep_rate,
           CASE WHEN ({_H32.format(x="t.doc_id::VARCHAR")} % {mixing.MIX_RES})
                     * tot.src_tokens
                     < {mixing.MIX_TARGET_TOKENS} * {mixing.MIX_RES}
                THEN 1 ELSE 0 END AS sampled
    FROM toks t JOIN tot USING (source)
    """,
)
def q57_mixture_sample(spark, sf_dir):
    return mixing.mixture_sample(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q58 — sequence packing (concat-and-split at the context length): the
# Spark plan is a two-level distributed prefix sum (bounded window
# partitions; no task sorts a whole Zipf-hot source); the oracle states the
# same semantics as ONE plain window cumsum — decomposition vs declared
# spec, as with q54's connected components.
# ---------------------------------------------------------------------------
@register(
    "q58_sequence_packing",
    f"""
    WITH toks AS (
      SELECT doc_id, source, {_WS_TOKS} AS n_tokens FROM documents
    ),
    c AS (
      SELECT source, doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS cum_before
      FROM toks
    )
    SELECT source, doc_id, n_tokens, cum_before,
           (cum_before % {mixing.PACK_LEN})::BIGINT AS offset_in_seq,
           (cum_before // {mixing.PACK_LEN})::BIGINT AS first_seq,
           ((cum_before + greatest(n_tokens, 1) - 1) // {mixing.PACK_LEN})::BIGINT
             AS last_seq,
           ((cum_before + greatest(n_tokens, 1) - 1) // {mixing.PACK_LEN}
             - cum_before // {mixing.PACK_LEN} + 1)::BIGINT AS n_seqs
    FROM c
    """,
)
def q58_sequence_packing(spark, sf_dir):
    return mixing.sequence_packing(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q59 — PII redaction apply (q41 counts the surface; this rewrites it).
# Emails first, then remaining digit runs; md5 of the rewritten string is
# the proof both engines produced the identical redacted text.
# ---------------------------------------------------------------------------
@register(
    "q59_pii_redact",
    f"""
    WITH r AS (
      SELECT doc_id, text,
             regexp_replace(text, '{text.PII_EMAIL_RE}',
                            '{text.PII_EMAIL_TOKEN}', 'g') AS t1
      FROM documents
    )
    SELECT doc_id,
           length(regexp_extract_all(text, '({text.PII_EMAIL_RE})', 1))
             AS n_email_redactions,
           length(regexp_extract_all(t1, '({text.PII_DIGITS_RE})', 1))
             AS n_num_redactions,
           length(regexp_replace(t1, '{text.PII_DIGITS_RE}',
                                 '{text.PII_NUM_TOKEN}', 'g')) AS redacted_len,
           md5(regexp_replace(t1, '{text.PII_DIGITS_RE}',
                              '{text.PII_NUM_TOKEN}', 'g')) AS redacted_md5
    FROM r
    """,
)
def q59_pii_redact(spark, sf_dir):
    return text.pii_redact(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q60 — k-means Lloyd step (exact fixed-point): broadcast-fold assignment
# (zero-shuffle), ONE groupBy(cluster) with per-dim sums, k×dim fan-out
# post-agg. Integer-exact throughout; the only float op is the final mean
# division, identical IEEE in both engines.
# ---------------------------------------------------------------------------
@register(
    "q60_kmeans_step",
    f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> round(x::DOUBLE * {similarity.KM_QUANT})::BIGINT)
               AS qv
      FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, qv AS cq FROM q
          WHERE vec_id % {similarity.IVF_STRIDE} = 0),
    d AS (
      SELECT q.vec_id, q.qv, c.cid,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(generate_series(1, {similarity.KM_DIM}),
                              i -> (q.qv[i] - c.cq[i]) * (q.qv[i] - c.cq[i]))),
               (a, x) -> a + x) AS d2
      FROM q, c
    ),
    asn AS (
      SELECT vec_id, qv, cid AS cluster_id, d2 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS r
        FROM d
      ) WHERE r = 1
    ),
    g AS (
      SELECT a.cluster_id, gs.i AS dim,
             count(*) AS n_members,
             sum(a.d2)::BIGINT AS inertia_q,
             sum(a.qv[gs.i])::BIGINT AS sum_q
      FROM asn a CROSS JOIN (SELECT unnest(generate_series(1, {similarity.KM_DIM})) AS i) gs
      GROUP BY 1, 2
    )
    SELECT cluster_id, n_members, inertia_q, dim, sum_q,
           (CASE WHEN sum_q < 0 THEN -1 ELSE 1 END
            * ((2 * abs(sum_q * 1000000) + n_members * {similarity.KM_QUANT})
               // (2 * n_members * {similarity.KM_QUANT}))) / 1e6 AS mean
    FROM g
    """,
)
def q60_kmeans_step(spark, sf_dir):
    return similarity.kmeans_step(read_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# q61 — BPE pair frequencies (the tokenizer-training inner loop): scan-side
# word→pair fan-out, ONE map-side-combined groupBy over a ≤|alphabet|² key
# space, global top-k as TakeOrderedAndProject (never a full sort).
# ---------------------------------------------------------------------------
@register(
    "q61_bpe_pair_counts",
    f"""
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    p AS (
      SELECT unnest(list_transform(generate_series(1, length(word) - 1),
                                   i -> substring(word, i, 2))) AS pair
      FROM w WHERE length(word) >= 2
    )
    SELECT pair, count(*) AS cnt FROM p
    GROUP BY pair ORDER BY cnt DESC, pair LIMIT {text.BPE_TOP_K}
    """,
)
def q61_bpe_pair_counts(spark, sf_dir):
    return text.bpe_pair_counts(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q63 — k-means, TWO distributed Lloyd iterations (fixed-point): the
# iterative form of q60. Centroids between iterations are the exact-integer
# 6-dp means, so the oracle UNROLLS the loop — iteration 1's m0/c1 CTEs feed
# iteration 2 — and the whole iterative computation is value-proven, the
# same decomposition-vs-declared-spec treatment as q54's components.
# ---------------------------------------------------------------------------
def _q63_sql() -> str:
    Q = similarity.KM_QUANT
    D = similarity.KM_DIM
    dist = (
        "list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(generate_series(1, {D}), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), (x, y) -> x + y)"
    )
    mean_e6 = (
        "(CASE WHEN {s} < 0 THEN -1 ELSE 1 END"
        f" * ((2 * abs({{s}} * 1000000) + {{n}} * {Q})"
        f" // (2 * {{n}} * {Q})))"
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(x::DOUBLE * {Q})::BIGINT)
               AS qv
      FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, qv AS cq FROM q
           WHERE vec_id % {similarity.IVF_STRIDE} = 0),
    d0 AS (
      SELECT q.vec_id, q.qv, c.cid,
             {dist.format(a="q.qv", b="c.cq")} AS d2
      FROM q, c0 c
    ),
    a0 AS (
      SELECT vec_id, qv, cid AS cluster_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS r
        FROM d0
      ) WHERE r = 1
    ),
    g0 AS (
      SELECT a.cluster_id, gs.i AS dim, count(*) AS n,
             sum(a.qv[gs.i])::BIGINT AS s
      FROM a0 a CROSS JOIN (SELECT unnest(generate_series(1, {D})) AS i) gs
      GROUP BY 1, 2
    ),
    m0 AS (SELECT cluster_id, dim, {mean_e6.format(s="s", n="n")} AS me
           FROM g0),
    c1 AS (SELECT cluster_id AS cid, list(me ORDER BY dim) AS cq
           FROM m0 GROUP BY 1),
    d1 AS (
      SELECT q.vec_id, q.qv, c.cid,
             {dist.format(a="q.qv", b="c.cq")} AS d2
      FROM q, c1 c
    ),
    a1 AS (
      SELECT vec_id, qv, cluster_id, d2 FROM (
        SELECT vec_id, qv, cid AS cluster_id, d2,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS r
        FROM d1
      ) WHERE r = 1
    ),
    g1 AS (
      SELECT a.cluster_id, gs.i AS dim,
             count(*) AS n_members,
             sum(a.d2)::BIGINT AS inertia_q,
             sum(a.qv[gs.i])::BIGINT AS sum_q
      FROM a1 a CROSS JOIN (SELECT unnest(generate_series(1, {D})) AS i) gs
      GROUP BY 1, 2
    )
    SELECT cluster_id, n_members, inertia_q, dim, sum_q,
           {mean_e6.format(s="sum_q", n="n_members")} / 1e6 AS mean
    FROM g1
    """


@register("q63_kmeans_iterated", _q63_sql())
def q63_kmeans_iterated(spark, sf_dir):
    return similarity.kmeans_iterate(
        read_table(spark, sf_dir, "embeddings"), n_iters=2
    )


# ---------------------------------------------------------------------------
# q64 — segment-dedup APPLY: remove cross-doc duplicated segments (keeper =
# min doc_id), rebuild the text scan-side from the tiny dropped-index array
# (the text never shuffles), md5-prove the rewritten string.
# ---------------------------------------------------------------------------
@register(
    "q64_segment_dedup_apply",
    f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    seg AS (SELECT doc_id, (length(ws) // {_SEG_W})::INT AS n_seg, ws FROM w),
    ex AS (
      SELECT doc_id, t.i::INT AS i,
             {_H32.format(x=f"array_to_string(ws[t.i*{_SEG_W}+1 : t.i*{_SEG_W}+{_SEG_W}], '|')")}
               AS h
      FROM seg, unnest(generate_series(0, n_seg - 1)) AS t(i)
    ),
    freq AS (SELECT h, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keeper
             FROM ex GROUP BY 1),
    drp AS (
      SELECT ex.doc_id, list(ex.i ORDER BY ex.i) AS dropped
      FROM ex JOIN freq USING (h)
      WHERE n_docs > 1 AND ex.doc_id != keeper
      GROUP BY 1
    ),
    r AS (
      SELECT s.doc_id, s.n_seg, s.ws,
             coalesce(d.dropped, []) AS dropped
      FROM seg s LEFT JOIN drp d USING (doc_id)
    ),
    nw AS (
      SELECT doc_id, n_seg, length(dropped)::INT AS n_dropped,
             /* coalesce: DuckDB's array_to_string([]) is NULL, Spark's
                array_join([]) is '' — all-dropped docs must rebuild to '' */
             coalesce(array_to_string(
               flatten(list_transform(
                 list_filter(generate_series(0, n_seg - 1),
                             i -> NOT list_contains(dropped, i::INT)),
                 i -> ws[i*{_SEG_W}+1 : i*{_SEG_W}+{_SEG_W}]))
               || ws[n_seg*{_SEG_W}+1 :], ' '), '') AS new_text
      FROM r
    )
    SELECT doc_id, n_seg AS n_segments, n_dropped,
           length(new_text) AS new_len, md5(new_text) AS new_md5
    FROM nw
    """,
)
def q64_segment_dedup_apply(spark, sf_dir):
    return dedup.segment_dedup_apply(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q65 — per-epoch training order: deterministic global permutation, ranked
# with the two-level distributed_rank (bucket = priority >> 20, order-
# aligned). The oracle states the spec as ONE plain global row_number, so
# the no-single-task-window decomposition is value-proven here directly
# (q45 uses the same operator inside a larger program).
# ---------------------------------------------------------------------------
@register(
    "q65_epoch_order",
    f"""
    SELECT doc_id, {mixing.EPOCH} AS epoch, priority,
           (row_number() OVER (ORDER BY priority, doc_id))::INT AS position
    FROM (
      SELECT doc_id,
             {_H32.format(x=f"doc_id::VARCHAR || ':' || '{mixing.EPOCH}'")}
               AS priority
      FROM documents
    )
    """,
)
def q65_epoch_order(spark, sf_dir):
    return mixing.epoch_order(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q66 — sequence manifest: the per-sequence (trainer-facing) view of q58's
# packing — docs per sequence, filled token slots, doc_id span. Scan-side
# span explode + ONE groupBy((source, seq_id)); all integer arithmetic.
# ---------------------------------------------------------------------------
@register(
    "q66_sequence_manifest",
    f"""
    WITH toks AS (
      SELECT doc_id, source, {_WS_TOKS} AS n_tokens FROM documents
    ),
    c AS (
      SELECT source, doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS cum_before
      FROM toks
    ),
    spans AS (
      SELECT source, doc_id, n_tokens, cum_before,
             cum_before // {mixing.PACK_LEN} AS first_seq,
             (cum_before + n_tokens - 1) // {mixing.PACK_LEN} AS last_seq
      FROM c WHERE n_tokens > 0
    ),
    ex AS (
      SELECT source, doc_id, cum_before, n_tokens, t.s AS seq_id
      FROM spans, unnest(generate_series(first_seq, last_seq)) AS t(s)
    )
    SELECT source, seq_id,
           count(*) AS n_docs,
           sum(least(cum_before + n_tokens, (seq_id + 1) * {mixing.PACK_LEN})
               - greatest(cum_before, seq_id * {mixing.PACK_LEN}))::BIGINT
             AS n_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM ex GROUP BY 1, 2
    """,
)
def q66_sequence_manifest(spark, sf_dir):
    return mixing.sequence_manifest(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q69 — deterministic stratified holdout split (train/val/test): hash-
# threshold membership (stable under corpus growth, zero state, streaming-
# safe scan projection); 'split:' salt keeps the draw independent of the
# mixture/cap draws. Exact BIGINT draw: (h32 * 1e6) >> 32 in both engines.
# ---------------------------------------------------------------------------
@register(
    "q69_holdout_split",
    f"""
    SELECT doc_id, source, draw_ppm,
           CASE WHEN draw_ppm < {curation.HOLDOUT_TEST_PPM} THEN 'test'
                WHEN draw_ppm < {curation.HOLDOUT_TEST_PPM + curation.HOLDOUT_VAL_PPM}
                  THEN 'val'
                ELSE 'train' END AS split
    FROM (
      SELECT doc_id, source,
             ({_H32.format(x="'split:' || doc_id::VARCHAR")} * 1000000) >> 32
               AS draw_ppm
      FROM documents
    )
    """,
)
def q69_holdout_split(spark, sf_dir):
    return curation.holdout_split(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q70 — the REAL WAV codec, driver-green (the audio sibling of q31b):
# deterministic 16-bit stereo RIFF/PCM payloads (interleaved sample s of doc
# d = ((d*131 + s*17) % 65536) - 32768, built executor-side in mapInPandas)
# flow through featurize(decode_stub=False) → decode_wav — and the oracle
# predicts the decoded per-channel means ANALYTICALLY (channel = s % 2), no
# audio library on either engine. Same rendering/rounding conventions as
# q31b (';'-joined %.6f, Python round ↔ round_even on exact k/128 means).
# ---------------------------------------------------------------------------
_Q70_SAMPLES = multimodal.WAV_FIX_FRAMES * multimodal.WAV_FIX_CH


@register(
    "q70_wav_codec",
    f"""
    WITH ids AS (
      SELECT doc_id FROM documents WHERE doc_id < {multimodal.WAV_FIX_N}
    ),
    sam AS (
      SELECT i.doc_id, u.s,
             ((i.doc_id * 131 + u.s * 17) % 65536) - 32768 AS v
      FROM ids i CROSS JOIN (
        SELECT unnest(generate_series(0, {_Q70_SAMPLES - 1})) AS s
      ) u
    ),
    ch AS (
      SELECT doc_id, s % {multimodal.WAV_FIX_CH} AS c,
             round_even(avg(v), 6) AS m
      FROM sam GROUP BY doc_id, s % {multimodal.WAV_FIX_CH}
    )
    SELECT doc_id, 'audio/wav' AS media_type,
           {44 + _Q70_SAMPLES * 2} AS n_bytes,
           string_agg(printf('%.6f', m), ';' ORDER BY c)
             || ';0.000000;0.000000' AS feature_str
    FROM ch GROUP BY doc_id
    """,
)
def q70_wav_codec(spark, sf_dir):
    media = multimodal.wav_fixture_media(read_table(spark, sf_dir, "documents"))
    feat = multimodal.featurize(media, decode_stub=False)
    return feat.select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.array_join(
            F.transform("feature", lambda x: F.format_string("%.6f", x)), ";"
        ).alias("feature_str"),
    )


# ---------------------------------------------------------------------------
# q71 — the REAL PNG codec, driver-green (round 5; VERDICT r4 item 3):
# deterministic RGB8 PNG payloads (flat sample s of doc d = (d*31 + s*7) %
# 256, rows cycling through ALL FIVE scanline filter types, zlib-compressed
# + CRC'd executor-side in mapInPandas) flow through
# featurize(decode_stub=False) → decode_png (inflate → unfilter) — and the
# oracle predicts the decoded per-channel means ANALYTICALLY (channel =
# s % 3), no image library on either engine. n_bytes varies with zlib
# output so the projection drops it (unlike q31b/q70's fixed-size payloads).
# ---------------------------------------------------------------------------


@register(
    "q71_png_codec",
    f"""
    WITH ids AS (
      SELECT doc_id FROM documents WHERE doc_id < {multimodal.PNG_FIX_N}
    ),
    sam AS (
      SELECT i.doc_id, u.s, (i.doc_id * 31 + u.s * 7) % 256 AS v
      FROM ids i CROSS JOIN (
        SELECT unnest(generate_series(
          0, {multimodal.PNG_FIX_W * multimodal.PNG_FIX_H * 3 - 1})) AS s
      ) u
    ),
    ch AS (
      SELECT doc_id, s % 3 AS c, round_even(avg(v), 6) AS m
      FROM sam GROUP BY doc_id, s % 3
    )
    SELECT doc_id, 'image/png' AS media_type,
           string_agg(printf('%.6f', m), ';' ORDER BY c) || ';0.000000'
             AS feature_str
    FROM ch GROUP BY doc_id
    """,
)
def q71_png_codec(spark, sf_dir):
    media = multimodal.png_fixture_media(read_table(spark, sf_dir, "documents"))
    feat = multimodal.featurize(media, decode_stub=False)
    return feat.select(
        "doc_id",
        "media_type",
        F.array_join(
            F.transform("feature", lambda x: F.format_string("%.6f", x)), ";"
        ).alias("feature_str"),
    )


# ---------------------------------------------------------------------------
# q72 — REAL mzXML ingestion, driver-green (round 5; VERDICT r4 item 1):
# the reference's two public instrument fixtures stream through
# sources/mzxml.py (iterparse scan extraction in mapInPandas → Spectrum
# schema → decode_peaks_udf inflate/unpack → iso_duration_seconds) and
# aggregate to per-(file, ms_level) integer invariants. The oracle is a
# PINNED LITERAL: the values were computed by the independent minidom+struct
# parser in tests/test_mzxml_ingest.py (which also pins the full per-row
# array equality) — DuckDB cannot parse mzXML, so the golden rows stand in.
# All aggregates are integers (counts + per-scan-rounded milli-m/z sums),
# immune to float summation order. Input is NOT sf-scaled: the fixtures are
# fixed public files (238 KB / 1.4 MB), the point is fidelity, not scale.
# sum_declared − sum_decoded exposes the zero-intensity pruning rule
# (MzXMLTags.scala:326): 58 658 profile-mode zero pairs drop from the
# Exploris MS1 scans.
# ---------------------------------------------------------------------------
_MZXML_RES = "/root/reference/src/test/resources"


@register(
    "q72_mzxml_ingest",
    """
    SELECT * FROM (VALUES
      ('LTQ_Orbitrap_precision32.mzXML', 1, 25, 29272, 4397, 485, 6347617),
      ('LTQ_Orbitrap_precision32.mzXML', 2, 74, 958, 958, 1496, 10752928),
      ('Orbitrap_Exploris_240_precision64.mzXML', 1, 5, 114102, 55444, 1, 504358),
      ('Orbitrap_Exploris_240_precision64.mzXML', 2, 9, 4362, 1947, 1811, 403456)
    ) AS t(file, ms_level, n_scans, sum_declared, sum_decoded, sum_rt,
           sum_mz0_milli)
    """,
)
def q72_mzxml_ingest(spark, sf_dir):
    from stream_reader_mzxml_spark.sources import mzxml

    paths = [
        f"{_MZXML_RES}/LTQ_Orbitrap_precision32.mzXML",
        f"{_MZXML_RES}/Orbitrap_Exploris_240_precision64.mzXML",
    ]
    sp = mzxml.decode_spectra(mzxml.read_mzxml(spark, paths))
    return (
        sp.groupBy(
            F.element_at(F.split("path", "/"), -1).alias("file"),
            "ms_level",
        )
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_scans"),
            F.sum("peaks_count").cast("int").alias("sum_declared"),
            F.sum(F.size("mz")).cast("int").alias("sum_decoded"),
            F.sum("rt_seconds").cast("int").alias("sum_rt"),
            F.sum(
                F.round(F.element_at("mz", 1) * 1000).cast("long")
            ).cast("int").alias("sum_mz0_milli"),
        )
    )


# ---------------------------------------------------------------------------
# q73 — streaming ingest-time manifest, batch twin (round 5; VERDICT r4
# item 5): first-arrival content dedup → curation gates → mixture keep test
# against pre-decided per-source totals, composed as
# curation.ingest_manifest_batch. This is the exact plan streaming_manifest
# runs per-arrival (proven row-for-row equal on a stream in
# tests/test_pipeline.py::TestStreamingManifest); registering the batch twin
# gives the composition a driver value oracle. event_time is derived
# deterministically from doc_id (documents has no arrival column at sf
# scale); output carries it as epoch seconds.
# ---------------------------------------------------------------------------
def _q73_sql() -> str:
    from stream_reader_mzxml_spark.pipeline import curation as _cur
    from stream_reader_mzxml_spark.pipeline import mixing as _mix
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
    WITH d0 AS (
      SELECT doc_id, source, text,
             1704067200 + doc_id % 86400 AS event_epoch
      FROM documents
    ),
    ded AS (
      SELECT *, row_number() OVER (
        PARTITION BY md5(text) ORDER BY event_epoch, doc_id) AS rk
      FROM d0
    ),
    dd AS (SELECT doc_id, source, text, event_epoch FROM ded WHERE rk = 1),
    w AS (
      SELECT doc_id, text, string_split(text, ' ') AS ws, length(text) AS nc
      FROM dd
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
    pii AS (
      SELECT doc_id,
             (length(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+')) > 0)::INT
               AS has_pii_surface
      FROM dd
    ),
    tot AS (
      SELECT source, sum({_WS_TOKS})::BIGINT AS src_tokens
      FROM documents GROUP BY 1
    )
    SELECT dd.doc_id, dd.source, dd.event_epoch,
           {_WS_TOKS.replace('text', 'dd.text')} AS n_tokens,
           q.quality_score, l.pred_lang, pii.has_pii_surface,
           (NOT (q.quality_score < {_cur.MIN_QUALITY}
                 OR pii.has_pii_surface = 1))::INT AS keep_gates,
           CASE WHEN q.quality_score < {_cur.MIN_QUALITY} THEN 'quality'
                WHEN pii.has_pii_surface = 1 THEN 'pii'
           END AS drop_reason,
           tot.src_tokens,
           CASE WHEN ({_H32.format(x="dd.doc_id::VARCHAR")} % {_mix.MIX_RES})
                     * tot.src_tokens
                     < {_mix.MIX_TARGET_TOKENS} * {_mix.MIX_RES}
                THEN 1 ELSE 0 END AS sampled,
           ((NOT (q.quality_score < {_cur.MIN_QUALITY}
                  OR pii.has_pii_surface = 1))
            AND ({_H32.format(x="dd.doc_id::VARCHAR")} % {_mix.MIX_RES})
                * tot.src_tokens
                < {_mix.MIX_TARGET_TOKENS} * {_mix.MIX_RES})::INT AS selected
    FROM dd
    JOIN q USING (doc_id) JOIN l USING (doc_id) JOIN pii USING (doc_id)
    JOIN tot ON dd.source = tot.source
    """


@register("q73_ingest_manifest", _q73_sql())
def q73_ingest_manifest(spark, sf_dir):
    from stream_reader_mzxml_spark.pipeline import curation, mixing

    docs = read_table(spark, sf_dir, "documents").withColumn(
        "event_time",
        F.timestamp_seconds(F.lit(1704067200) + F.pmod("doc_id", F.lit(86400))),
    )
    totals = docs.groupBy("source").agg(
        F.sum(mixing._ws_tokens("text")).alias("src_tokens")
    )
    out = curation.ingest_manifest_batch(docs, totals)
    return out.select(
        "doc_id",
        "source",
        F.unix_timestamp("event_time").alias("event_epoch"),
        "n_tokens",
        "quality_score",
        "pred_lang",
        "has_pii_surface",
        "keep_gates",
        "drop_reason",
        "src_tokens",
        "sampled",
        "selected",
    )


# ---------------------------------------------------------------------------
# q74 — REAL image resize over the PNM fixture (round 5): the deterministic
# P6 payloads (pixel s of doc d = (d*31 + s*7) % 256) decode via decode_pnm
# and box-average 16x8 → 8x4 in resize_images — and the oracle recomputes
# each OUTPUT pixel analytically as the mean of its 2x2 source block. Two
# stats pin the result: plain per-channel means (scale check) and
# position-weighted sums (weight = flat output index + 1 — a transposed,
# flipped, or mis-strided resize shifts ch_wsum even where ch_mean is
# invariant). All arithmetic is exact in float64 on both engines (quarters
# times small ints), so the 6-decimal rounding has no tie ambiguity.
# ---------------------------------------------------------------------------
_RZ_W, _RZ_H = multimodal.PNM_FIX_W // 2, multimodal.PNM_FIX_H // 2


@register(
    "q74_image_resize",
    f"""
    WITH ids AS (
      SELECT doc_id FROM documents WHERE doc_id < {multimodal.PNM_FIX_N}
    ),
    grid AS (
      SELECT y.y, x.x, c.c
      FROM (SELECT unnest(generate_series(0, {_RZ_H - 1})) AS y) y
      CROSS JOIN (SELECT unnest(generate_series(0, {_RZ_W - 1})) AS x) x
      CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS c) c
    ),
    px AS (
      SELECT i.doc_id, g.y, g.x, g.c,
        (  (i.doc_id*31 + (((2*g.y)*{multimodal.PNM_FIX_W} + 2*g.x)*3 + g.c)*7) % 256
         + (i.doc_id*31 + (((2*g.y)*{multimodal.PNM_FIX_W} + 2*g.x + 1)*3 + g.c)*7) % 256
         + (i.doc_id*31 + (((2*g.y + 1)*{multimodal.PNM_FIX_W} + 2*g.x)*3 + g.c)*7) % 256
         + (i.doc_id*31 + (((2*g.y + 1)*{multimodal.PNM_FIX_W} + 2*g.x + 1)*3 + g.c)*7) % 256
        ) / 4.0 AS v
      FROM ids i CROSS JOIN grid g
    ),
    ch AS (
      SELECT doc_id, c,
             round_even(avg(v), 6) AS m,
             round_even(sum(v * (y*{_RZ_W} + x + 1)), 6) AS ws
      FROM px GROUP BY doc_id, c
    )
    SELECT doc_id, 'image/ppm' AS media_type,
           {_RZ_W} AS width, {_RZ_H} AS height,
           string_agg(printf('%.6f', m), ';' ORDER BY c) AS mean_str,
           string_agg(printf('%.6f', ws), ';' ORDER BY c) AS wsum_str
    FROM ch GROUP BY doc_id
    """,
)
def q74_image_resize(spark, sf_dir):
    media = multimodal.pnm_fixture_media(read_table(spark, sf_dir, "documents"))
    rz = multimodal.resize_images(media, _RZ_W, _RZ_H, method="box")
    fmt = lambda col: F.array_join(
        F.transform(col, lambda x: F.format_string("%.6f", x)), ";"
    )
    return rz.select(
        "doc_id",
        "media_type",
        "width",
        "height",
        fmt("ch_mean").alias("mean_str"),
        fmt("ch_wsum").alias("wsum_str"),
    )


# ---------------------------------------------------------------------------
# q75 — REAL video frame-sampling over the raw-DIB AVI fixture (round 5):
# deterministic RIFF/AVI payloads (RGB sample s of frame f of doc d =
# (d*31 + f*13 + s*7) % 256, packed through the genuine DIB raster rules —
# bottom-up BGR rows, 4-byte stride padding — executor-side in mapInPandas)
# decode via decode_avi and sample every 3rd frame in frame_sample — and
# the oracle predicts each sampled frame's per-channel means ANALYTICALLY
# (channel = s % 3), no video library on either engine. One row per
# (doc, sampled frame): frames 0, 3, 6, 9 of 10.
# ---------------------------------------------------------------------------
_VID_SAMPLES = multimodal.VID_FIX_W * multimodal.VID_FIX_H * 3


@register(
    "q75_frame_sample",
    f"""
    WITH ids AS (
      SELECT doc_id FROM documents WHERE doc_id < {multimodal.VID_FIX_N}
    ),
    fs AS (
      SELECT unnest(generate_series(0, {multimodal.VID_FIX_FRAMES - 1}, 3)) AS f
    ),
    sam AS (
      SELECT i.doc_id, fs.f, u.s,
             (i.doc_id*31 + fs.f*13 + u.s*7) % 256 AS v
      FROM ids i CROSS JOIN fs CROSS JOIN (
        SELECT unnest(generate_series(0, {_VID_SAMPLES - 1})) AS s
      ) u
    ),
    ch AS (
      SELECT doc_id, f, s % 3 AS c, round_even(avg(v), 6) AS m
      FROM sam GROUP BY doc_id, f, s % 3
    )
    SELECT doc_id, f AS frame_idx,
           {multimodal.VID_FIX_FRAMES} AS n_frames,
           {multimodal.VID_FIX_W} AS width, {multimodal.VID_FIX_H} AS height,
           string_agg(printf('%.6f', m), ';' ORDER BY c) AS feature_str
    FROM ch GROUP BY doc_id, f
    """,
)
def q75_frame_sample(spark, sf_dir):
    media = multimodal.avi_fixture_media(read_table(spark, sf_dir, "documents"))
    sampled = multimodal.frame_sample(media, every_k=3)
    return sampled.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "n_frames",
        "width",
        "height",
        F.array_join(
            F.transform("feature", lambda x: F.format_string("%.6f", x)), ";"
        ).alias("feature_str"),
    )
