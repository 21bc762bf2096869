"""Round-3 report battery — the last reference programs composed end-to-end,
plus the oracle-ized deterministic half of the sketch query:

- q43b — sketch-bound booleans (HLL++ / approx-quantile vs exact, compared
  INSIDE the query) so the sketch operators get a driver-green row;
- q45 — MainGlucosinolates end-to-end (MainGlucosinolates.scala:91-191):
  rt gate → per-peak isotope probes → Δ-precision gate → isValidIsotope
  abundance bands → two-pass count → sort desc m0 → ';'-CSV render;
- q46 — databaseIons.sc program (databaseIons.sc:33-72): per-peak ppm lookup
  against the compound database → nonEmpty → rendered (rt;msLevel;num;mz;ids);
- q47 — glucosinolateIons.sc delta-stats report (glucosinolateIons.sc:28-55):
  precursor-list stats → mean/"std" of (m1−m0), (m2−m0) over the candidate
  ion stream → score-filtered selection count.

Same conventions as the other plan modules: identical aliases both sides,
explicit rounds, constants shared from single Python sources of truth.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stream_reader_mzxml_spark.functions.chem import ABUNDANCE_ISOTOPE
from stream_reader_mzxml_spark.pipeline import candidate
from stream_reader_mzxml_spark.plans import register
from stream_reader_mzxml_spark.sources.readers import read_table


# ---------------------------------------------------------------------------
# q43b — the deterministic half of q43, oracle-checkable: the sketch estimates
# (HLL++ distinct count, approx quantiles) are compared against EXACT values
# computed in the same Spark query, and only the *bound booleans* plus the
# exact counts are emitted. DuckDB's oracle predicts (event_type, n_rows,
# true, true, true) — if a sketch ever drifts outside its published error
# bound, the hash mismatches and the driver row goes red. The quantile bound
# is rank-based (the sketch's actual contract): the count of values ≤ the
# estimate must sit within ±0.5 % of the target rank (percentile_approx at
# accuracy 10000 guarantees ±0.01 %; HLL++ at rsd 0.02 is allowed 5σ = 10 %).
# ---------------------------------------------------------------------------
_Q43B_RSD = 0.02
_Q43B_HLL_TOL = 5 * _Q43B_RSD  # 5σ of the configured rsd
_Q43B_RANK_SLOP = 0.005


@register(
    "q43b_sketch_bounds",
    """
    SELECT event_type, count(*) AS n_rows,
           1 AS hll_within, 1 AS p50_within, 1 AS p99_within
    FROM events GROUP BY event_type
    """,
)
def q43b_sketch_bounds(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=_Q43B_RSD).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.percentile_approx("value", 0.5, 10000).alias("ap50"),
        F.percentile_approx("value", 0.99, 10000).alias("ap99"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    # rank-check the quantile estimates against the raw data: one more pass
    # over events joined to the (tiny, broadcast) per-type sketch row
    ranked = ev.join(F.broadcast(sk), ["event_type"]).groupBy("event_type").agg(
        F.sum(F.when(F.col("value") <= F.col("ap50"), 1).otherwise(0)).alias(
            "n_le_p50"
        ),
        F.sum(F.when(F.col("value") <= F.col("ap99"), 1).otherwise(0)).alias(
            "n_le_p99"
        ),
        F.first("approx_users").alias("approx_users"),
        F.first("exact_users").alias("exact_users"),
        F.first("n_rows").alias("n_rows"),
    )
    n = F.col("n_rows").cast("double")
    s = _Q43B_RANK_SLOP

    def within_rank(cnt, p):
        return (cnt >= (F.lit(p) - s) * n) & (cnt <= (F.lit(p) + s) * n)

    return ranked.select(
        "event_type",
        "n_rows",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.lit(_Q43B_HLL_TOL) * F.col("exact_users")
        )
        .cast("int")
        .alias("hll_within"),
        within_rank(F.col("n_le_p50"), 0.5).cast("int").alias("p50_within"),
        within_rank(F.col("n_le_p99"), 0.99).cast("int").alias("p99_within"),
    )


# ---------------------------------------------------------------------------
# q45 — MainGlucosinolates end-to-end (MainGlucosinolates.scala:91-191), over
# the embeddings-derived spectrum model shared with q35/q39/q44:
#
#   rt range gate (:109,119)            → relational filter on spectra
#   two-pass spectrum count (:105-113)  → 1-row agg broadcast onto every row
#     (the streaming-native analog is observe(); the relational form is
#      oracle-checkable and costs one extra scan, as the reference pays too)
#   intensity > minIntensity (:165)     → per-peak filter
#   findClosestValueMz(mz0+1), (mz0+Δ)  → ordered minBy folds over the FULL
#     (:168-169)                          peak array (same kernel as q35/q39)
#   |mz2−mz0−Δ| < precision (:173)      → plain predicate
#   isValidIsotope C/S bands (:181-191) → abundance-envelope predicates using
#     the reference's published isotope abundances (ChemicalConst.scala:12-19)
#   sortBy(-mz0) (:133, stable)         → rank over (mz0 DESC, num, pos): the
#     Scala sort is stable, so stream order (num, pos) IS the tie-break
#   ';'-CSV render (:138-154)           → formatted concat column
#
# Tolerances re-scaled to the synthetic grid (reference values in comments);
# the fused shape is q39's: zero shuffles until the final global rank, which
# is the two-level distributed_rank (no single-partition window even if the
# matched report is NOT small).
# ---------------------------------------------------------------------------
_Q45_RT_LO, _Q45_RT_HI = 100.0, 3500.0  # startRT/endRT (ref: CLI, None)
_Q45_MIN_INT = 500.0                    # minIntensity  (ref 7500, :21)
_Q45_DELTA = 1.9958                     # deltaMp0Mp2   (ref default, :22)
_Q45_PRECISION = 0.5                    # precisionMz   (ref 0.0001, re-scaled)
_Q45_C_MIN, _Q45_C_MAX = 3, 35          # numberCarbonMin/Max (:23-24)
_Q45_S_MIN, _Q45_S_MAX = 1.5, 5.0       # numberSulfurMin/Max (:25-26)
# abundanceIsotope("C")(1), ("S")(2) — ChemicalConst.scala:13,15
_Q45_AB_C1 = ABUNDANCE_ISOTOPE["C"][1]
_Q45_AB_S2 = ABUNDANCE_ISOTOPE["S"][2]


def _q45_sql() -> str:
    c = candidate
    near = (
        "list_reduce(peaks, (acc, p) -> CASE WHEN abs(p.mz - ({d})) < "
        "abs(acc.mz - ({d})) THEN p ELSE acc END)"
    )
    return f"""
    WITH sp AS (
      SELECT vec_id,
             ((vec_id * 7) % 3600)::DOUBLE AS rt,
             list_transform(generate_series(1, {c.PEAK_DIM}), i ->
               {{'mz': 100.0 + embedding[i]::DOUBLE * 10,
                 'intensity': (((vec_id * {c.PEAK_DIM} + i - 1) * 37) % 1000)::DOUBLE}}
             ) AS peaks
      FROM embeddings
    ),
    gated AS (
      SELECT * FROM sp WHERE rt >= {_Q45_RT_LO} AND rt <= {_Q45_RT_HI}
    ),
    tot AS (SELECT count(*) AS n_spectra FROM gated),
    pk AS (
      SELECT vec_id, rt, peaks, g.i AS pos,
             peaks[g.i].mz AS mz0, peaks[g.i].intensity AS int0
      FROM gated, (SELECT unnest(generate_series(1, {c.PEAK_DIM})) AS i) g
      WHERE peaks[g.i].intensity > {_Q45_MIN_INT}
    ),
    iso AS (
      SELECT vec_id, rt, pos, mz0, int0,
             {near.format(d="mz0 + 1.0")} AS near1,
             {near.format(d=f"mz0 + {_Q45_DELTA}")} AS near2
      FROM pk
    ),
    flt AS (
      SELECT vec_id, rt, pos, mz0, int0,
             near1.mz AS mz1, near1.intensity AS int1,
             near2.mz AS mz2, near2.intensity AS int2
      FROM iso
      WHERE abs(near2.mz - mz0 - {_Q45_DELTA}) < {_Q45_PRECISION}
        AND near1.intensity >= int0 * ({_Q45_AB_C1} * {_Q45_C_MIN})
        AND near1.intensity <  int0 * ({_Q45_AB_C1} * {_Q45_C_MAX})
        AND near2.intensity >= int0 * {_Q45_AB_S2} * {_Q45_S_MIN}
        AND near2.intensity <  int0 * {_Q45_AB_S2} * {_Q45_S_MAX}
    )
    SELECT vec_id AS num, pos, rt,
           round(mz0, 6) AS mz0, int0,
           round(mz1, 6) AS mz1, int1,
           round(mz2, 6) AS mz2, int2,
           row_number() OVER (ORDER BY mz0 DESC, vec_id, pos) AS rank,
           n_spectra,
           printf('%.1f;%.6f;%.1f;%.6f;%.1f;%.6f;%.1f',
                  rt, round(mz0, 6), int0, round(mz1, 6), int1,
                  round(mz2, 6), int2) AS line
    FROM flt CROSS JOIN tot
    """


@register("q45_glucosinolates", _q45_sql())
def q45_glucosinolates(spark, sf_dir):
    c = candidate
    sp = c.spectra_from_embeddings(read_table(spark, sf_dir, "embeddings")).filter(
        (F.col("rt") >= _Q45_RT_LO) & (F.col("rt") <= _Q45_RT_HI)
    )
    # two-pass count (MainGlucosinolates.scala:105-113): 1-row agg broadcast
    tot = sp.agg(F.count(F.lit(1)).alias("n_spectra"))

    probed = c.peak_candidates(
        F.col("peaks"),
        lambda x: x["peak"]["intensity"] > F.lit(_Q45_MIN_INT),
        deltas=(1.0, _Q45_DELTA),
    )

    def passes(x):
        int0 = x["peak"]["intensity"]
        return (
            (F.abs(x["near2"]["mz"] - x["peak"]["mz"] - _Q45_DELTA) < _Q45_PRECISION)
            & (x["near1"]["intensity"] >= int0 * (_Q45_AB_C1 * _Q45_C_MIN))
            & (x["near1"]["intensity"] < int0 * (_Q45_AB_C1 * _Q45_C_MAX))
            & (x["near2"]["intensity"] >= int0 * _Q45_AB_S2 * _Q45_S_MIN)
            & (x["near2"]["intensity"] < int0 * _Q45_AB_S2 * _Q45_S_MAX)
        )

    rows = c.candidate_rows(
        sp, F.col("vec_id"), F.col("rt"), F.filter(probed, passes)
    )
    # stable sortBy(-mz0) (:133): a GLOBAL rank, decomposed two-level
    # (operators/aggregates.py:distributed_rank) so no single task ever
    # windows the whole report — bucket floor(-mz0) is order-aligned with
    # the desc(mz0) sort, within-bucket ties break on stream order (num,pos)
    from stream_reader_mzxml_spark.operators.aggregates import distributed_rank

    ranked = distributed_rank(
        rows,
        order=[F.desc("mz0"), F.asc("num"), F.asc("pos")],
        bucket=F.floor(-F.col("mz0")),
    )
    mz0 = F.round("mz0", 6)
    mz1 = F.round("mz1", 6)
    mz2 = F.round("mz2", 6)
    return ranked.crossJoin(F.broadcast(tot)).select(
        "num",
        "pos",
        "rt",
        mz0.alias("mz0"),
        "int0",
        mz1.alias("mz1"),
        "int1",
        mz2.alias("mz2"),
        "int2",
        "rank",
        "n_spectra",
        F.format_string(
            "%.1f;%.6f;%.1f;%.6f;%.1f;%.6f;%.1f",
            F.col("rt"), mz0, F.col("int0"), mz1, F.col("int1"), mz2,
            F.col("int2"),
        ).alias("line"),
    )


# ---------------------------------------------------------------------------
# q46 — databaseIons.sc program (databaseIons.sc:33-72): per peak above the
# noise floor, look up the compound database by ppm distance
# (|mzExp − mzDb| / mzDb · 1e6 < ppm, :47-52), keep peaks with a non-empty
# match list (F8, :54-56), render (rt; msLevel; num; mz; ids) rows (:57-67).
#
# The db is the broadcast-constant side (the reference closes over an
# in-memory Map, :30) — here an in-plan literal array, so the whole program
# is one stateless scan-project: zero shuffles, streaming-safe.
# Render parity: Scala's filtered `Map.keys` iterates in insertion order for
# small maps and prints as ``Set(ID1, ID2)`` — reproduced with db-list order.
# ---------------------------------------------------------------------------
_Q46_NOISE = 500.0      # noiseIntensity (ref CLI)
_Q46_PPM = 2000.0       # ppm_precision  (ref 5, re-scaled to the mz grid)
_Q46_DB: list[tuple[str, float]] = [
    (f"ID{k}", round(80.0 + k * 3.7, 6)) for k in range(1, 13)
]  # the db Map analog (databaseIons.sc:30: Map("ID1" -> 371.8996276))


def _q46_sql() -> str:
    c = candidate
    db = ", ".join(f"{{'id': '{i}', 'mz': {mz}}}" for i, mz in _Q46_DB)
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
    pk AS (
      SELECT vec_id, rt, g.i AS pos,
             peaks[g.i].mz AS mz, peaks[g.i].intensity AS int0
      FROM sp, (SELECT unnest(generate_series(1, {c.PEAK_DIM})) AS i) g
      WHERE peaks[g.i].intensity > {_Q46_NOISE}
    ),
    m AS (
      SELECT vec_id, rt, pos, mz, int0,
             list_transform(
               list_filter([{db}],
                           e -> abs((mz - e.mz) / e.mz) * 1e6 < {_Q46_PPM}),
               e -> e.id) AS ids
      FROM pk
    )
    SELECT vec_id AS num, rt, 1 AS ms_level, pos,
           round(mz, 6) AS mz, int0,
           'Set(' || array_to_string(ids, ', ') || ')' AS ids,
           rt::VARCHAR || ';1;' || num::VARCHAR || ';' ||
             printf('%.6f', round(mz, 6)) || ';' ||
             'Set(' || array_to_string(ids, ', ') || ')' AS line
    FROM (SELECT vec_id, vec_id AS num, rt, pos, mz, int0, ids
          FROM m WHERE length(ids) > 0)
    """


@register("q46_database_ions", _q46_sql())
def q46_database_ions(spark, sf_dir):
    c = candidate
    sp = c.spectra_from_embeddings(read_table(spark, sf_dir, "embeddings")).withColumn(
        "rt", F.col("rt").cast("long")
    )
    db_arr = F.array(
        *[
            F.struct(F.lit(i).alias("id"), F.lit(mz).alias("mz"))
            for i, mz in _Q46_DB
        ]
    )
    kept = c.peak_candidates(
        F.col("peaks"), lambda x: x["peak"]["intensity"] > F.lit(_Q46_NOISE)
    )
    matched = F.transform(
        kept,
        lambda x: F.struct(
            x["pos"].alias("pos"),
            x["peak"].alias("peak"),
            F.transform(
                F.filter(
                    db_arr,
                    lambda e: F.abs((x["peak"]["mz"] - e["mz"]) / e["mz"]) * 1e6
                    < F.lit(_Q46_PPM),
                ),
                lambda e: e["id"],
            ).alias("ids"),
        ),
    )
    nonempty = F.filter(matched, lambda x: F.size(x["ids"]) > 0)  # F8 (:54-56)
    out = sp.select("vec_id", "rt", F.explode(nonempty).alias("x"))
    mz = F.round(F.col("x.peak.mz"), 6)
    ids = F.concat(
        F.lit("Set("), F.array_join(F.col("x.ids"), ", "), F.lit(")")
    )
    return out.select(
        F.col("vec_id").alias("num"),
        "rt",
        F.lit(1).alias("ms_level"),
        F.col("x.pos").alias("pos"),
        mz.alias("mz"),
        F.col("x.peak.intensity").alias("int0"),
        ids.alias("ids"),
        F.concat_ws(
            ";",
            F.col("rt").cast("string"),
            F.lit("1"),
            F.col("vec_id").cast("string"),
            F.format_string("%.6f", mz),
            ids,
        ).alias("line"),
    )


# ---------------------------------------------------------------------------
# q47 — glucosinolateIons.sc delta-stats report (glucosinolateIons.sc:28-55):
#
#   precursor-list stats (:29-31)   → count/min/max m0 over the ion list
#   candidate ion stream (:33-34)   → q35's pipeline (the candidateIonsGeneric
#                                     analog), reusing its oracle SQL verbatim
#   mean01/mean02 (:36-45)          → mean of (m1−m0), (m2−m0) as ORDERED
#                                     folds over (num, pos) for float parity
#   "std" (:39,42)                  → the reference computes
#                                     mean(mean − x) — algebraically ZERO, a
#                                     bug (it never squares). Reproduced
#                                     faithfully as dev01/dev02 (same fold
#                                     order, rounds to 0.0) AND corrected as
#                                     std01/std02 = √(mean((x−mean)²)), the
#                                     evidently-intended population std —
#                                     the same reproduce-AND-document
#                                     treatment as A3 (SURVEY §7).
#   score filter (:48)              → scoreDaughterIons/scoreNeutralLoss > 0
#                                     (IonEligibleGlucosinolate-style counts
#                                     over the matched ion's fragment list,
#                                     libCandidateIons.sc:53-70) → n_selected
#
# Single-row report: every aggregate is either a broadcast-sized literal agg
# or one fold over the (small, already-reduced) candidate output.
# ---------------------------------------------------------------------------
_Q47_DI = [4.0, 7.0, 16.0, 25.0, 31.0, 40.0, 46.0, 58.0]  # mzsDI analog (:13-28)
# mzsNL analog (:29-36): chosen at m0 − fragment offsets of ions that also
# carry a DI hit (ions 1/2/5/13), so the (scoreDI>0 AND scoreNL>0) selection
# (:48) is genuinely exercised — n_selected > 0
_Q47_NL = [50.0, 67.0, 93.0, 107.0]
_Q47_DI_TOL = 0.2  # libCandidateIons.sc:70
_Q47_NL_TOL = 0.1  # libCandidateIons.sc:61


def _q47_sql() -> str:
    from stream_reader_mzxml_spark.plans.program_queries import _q35_sql

    ion_rows = ",\n        ".join(
        f"({p}, {rt0}, {m0}, '{frag}')"
        for p, rt0, m0, frag in candidate.ion_list()
    )
    di = "[" + ", ".join(str(v) for v in _Q47_DI) + "]"
    nl = "[" + ", ".join(str(v) for v in _Q47_NL) + "]"
    return f"""
    WITH prec AS (
      SELECT count(*) AS n_prec,
             round(min(m0)::DOUBLE, 6) AS min_m0,
             round(max(m0)::DOUBLE, 6) AS max_m0
      FROM (VALUES
        {ion_rows}
      ) t(ion_id, rt0, m0, fragments)
    ),
    cand_ions AS (
      SELECT num, pos, mz0, mz1, mz2, fragments FROM ({_q35_sql()}) q35
    ),
    scored AS (
      SELECT num, pos,
             mz1 - mz0 AS d01, mz2 - mz0 AS d02,
             length(list_filter({di}, r ->
               length(list_filter(frags, f -> abs(r - f) < {_Q47_DI_TOL})) > 0))
               AS score_di,
             length(list_filter({nl}, nl ->
               (mz0 - nl) > 0 AND
               length(list_filter(frags, f ->
                 abs((mz0 - nl) - f) < {_Q47_NL_TOL})) > 0)) AS score_nl
      FROM (SELECT *, list_transform(string_split(fragments, ';'),
                                     s -> s::DOUBLE) AS frags
            FROM cand_ions)
    ),
    folded AS (
      SELECT count(*) AS n_ions,
             list_transform(list({{'num': num, 'pos': pos, 'd01': d01,
                                   'd02': d02}} ORDER BY num, pos),
                            s -> [s.d01, s.d02]) AS ds,
             sum(CASE WHEN score_di > 0 AND score_nl > 0 THEN 1 ELSE 0 END)
               ::BIGINT AS n_selected
      FROM scored
    ),
    m AS (
      SELECT n_ions, ds, n_selected,
             list_reduce(list_prepend(0.0, list_transform(ds, d -> d[1])),
                         (a, x) -> a + x) / n_ions AS mean01,
             list_reduce(list_prepend(0.0, list_transform(ds, d -> d[2])),
                         (a, x) -> a + x) / n_ions AS mean02
      FROM folded
    )
    SELECT n_prec, min_m0, max_m0, n_ions,
           round(mean01, 6) AS mean01,
           round(list_reduce(list_prepend(0.0,
                   list_transform(ds, d -> mean01 - d[1])),
                 (a, x) -> a + x) / n_ions, 6) AS dev01,
           round(sqrt(list_reduce(list_prepend(0.0,
                   list_transform(ds, d -> (d[1] - mean01) * (d[1] - mean01))),
                 (a, x) -> a + x) / n_ions), 6) AS std01,
           round(mean02, 6) AS mean02,
           round(list_reduce(list_prepend(0.0,
                   list_transform(ds, d -> mean02 - d[2])),
                 (a, x) -> a + x) / n_ions, 6) AS dev02,
           round(sqrt(list_reduce(list_prepend(0.0,
                   list_transform(ds, d -> (d[2] - mean02) * (d[2] - mean02))),
                 (a, x) -> a + x) / n_ions), 6) AS std02,
           n_selected
    FROM m CROSS JOIN prec
    """


@register("q47_gluco_delta_stats", _q47_sql())
def q47_gluco_delta_stats(spark, sf_dir):
    # precursor-list stats (:29-31) over the literal ion list
    ions = spark.createDataFrame(
        candidate.ion_list(), "ion_id INT, rt0 DOUBLE, m0 DOUBLE, fragments STRING"
    )
    prec = ions.agg(
        F.count(F.lit(1)).alias("n_prec"),
        F.round(F.min("m0"), 6).alias("min_m0"),
        F.round(F.max("m0"), 6).alias("max_m0"),
    )

    out = candidate.candidate_ions(read_table(spark, sf_dir, "embeddings"))
    frags = F.transform(
        F.split(F.col("fragments"), ";"), lambda s: s.cast("double")
    )
    di_arr = F.array(*[F.lit(v) for v in _Q47_DI])
    nl_arr = F.array(*[F.lit(v) for v in _Q47_NL])
    score_di = F.size(
        F.filter(
            di_arr,
            lambda r: F.exists(
                F.col("frags"), lambda f: F.abs(r - f) < _Q47_DI_TOL
            ),
        )
    )
    score_nl = F.size(
        F.filter(
            nl_arr,
            lambda nl: ((F.col("mz0") - nl) > 0)
            & F.exists(
                F.col("frags"),
                lambda f: F.abs((F.col("mz0") - nl) - f) < _Q47_NL_TOL,
            ),
        )
    )
    scored = out.withColumn("frags", frags).select(
        "num",
        "pos",
        (F.col("mz1") - F.col("mz0")).alias("d01"),
        (F.col("mz2") - F.col("mz0")).alias("d02"),
        score_di.alias("score_di"),
        score_nl.alias("score_nl"),
    )

    def fold_sum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)

    folded = scored.agg(
        F.count(F.lit(1)).alias("n_ions"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("num", "pos", "d01", "d02"))),
            lambda s: F.array(s["d01"], s["d02"]),
        ).alias("ds"),
        F.sum(
            F.when((F.col("score_di") > 0) & (F.col("score_nl") > 0), 1).otherwise(0)
        ).alias("n_selected"),
    )
    n = F.col("n_ions").cast("double")
    m = folded.withColumn(
        "mean01", fold_sum(F.transform(F.col("ds"), lambda d: d[0])) / n
    ).withColumn(
        "mean02", fold_sum(F.transform(F.col("ds"), lambda d: d[1])) / n
    )
    mean01, mean02 = F.col("mean01"), F.col("mean02")
    return m.crossJoin(F.broadcast(prec)).select(
        "n_prec",
        "min_m0",
        "max_m0",
        "n_ions",
        F.round(mean01, 6).alias("mean01"),
        F.round(
            fold_sum(F.transform(F.col("ds"), lambda d: mean01 - d[0])) / n, 6
        ).alias("dev01"),
        F.round(
            F.sqrt(
                fold_sum(
                    F.transform(
                        F.col("ds"), lambda d: (d[0] - mean01) * (d[0] - mean01)
                    )
                )
                / n
            ),
            6,
        ).alias("std01"),
        F.round(mean02, 6).alias("mean02"),
        F.round(
            fold_sum(F.transform(F.col("ds"), lambda d: mean02 - d[1])) / n, 6
        ).alias("dev02"),
        F.round(
            F.sqrt(
                fold_sum(
                    F.transform(
                        F.col("ds"), lambda d: (d[1] - mean02) * (d[1] - mean02)
                    )
                )
                / n
            ),
            6,
        ).alias("std02"),
        "n_selected",
    )


# ---------------------------------------------------------------------------
# q67 — Main.scala's matchIsotopeGlucosinolate, the reference's root `Main`
# executable, composed end-to-end (Main.scala:21-80) over the shared
# embeddings-derived spectrum model (pipeline/candidate.py):
#
#   rt range gate (:33-35)              → relational filter on spectra
#   per-peak isotope probes (:39-41)    → findClosestValueMz(mz0+1.0) and
#                                         findClosestValueMz(mz0+1.996) as
#                                         ordered minBy folds (q45's kernel)
#   COMBINED C+S band on M+1 (:44-56)   → int1 within
#       int0·(abC1·cMin + abS1·sMin) .. int0·(abC1·cMax + abS1·sMax)
#     — this is what distinguishes Main.scala from MainGlucosinolates (q45),
#     which gates M+1 on carbon alone; Main.scala folds the S(1) abundance
#     into both M+1 bounds (ChemicalConst.scala:13-16)
#   S-band on M+2 (:58-66)              → int2 within int0·abS2·[sMin, sMax)
#   NO minIntensity floor and NO Δ-precision gate — Main.scala has neither
#     (q45 has both); every peak is probed
#   tuple render (:68-73)               → the Scala `toString` line
#     "(rt,((mz0,int0),(mz1,int1),(mz2,int2)))", emitted with explicit %.6f /
#     %.1f formatting (documented deviation: Scala Double.toString shortest-
#     repr is not portable across engines)
#
# Stream order (num, pos) is the row identity — Main.scala never sorts.
# Fused shape: one stateless scan-project (zero shuffles, streaming-safe).
# ---------------------------------------------------------------------------
_Q67_RT_LO, _Q67_RT_HI = 150.0, 3300.0  # startTime/endTime (ref: 0/100000)
_Q67_DELTA = 1.996                      # deltaMp0Mp2 (Main.scala:22)
_Q67_C_MIN, _Q67_C_MAX = 3, 35          # numberCarbonMin/Max (:23-24)
_Q67_S_MIN, _Q67_S_MAX = 1.5, 5.0       # numberSulfurMin/Max (:25-26)
# abundanceIsotope("C")(1), ("S")(1), ("S")(2) — ChemicalConst.scala:13,16
_Q67_AB_C1 = ABUNDANCE_ISOTOPE["C"][1]
_Q67_AB_S1 = ABUNDANCE_ISOTOPE["S"][1]
_Q67_AB_S2 = ABUNDANCE_ISOTOPE["S"][2]
_Q67_M1_LO = _Q67_AB_C1 * _Q67_C_MIN + _Q67_AB_S1 * _Q67_S_MIN
_Q67_M1_HI = _Q67_AB_C1 * _Q67_C_MAX + _Q67_AB_S1 * _Q67_S_MAX
_Q67_M2_LO = _Q67_AB_S2 * _Q67_S_MIN
_Q67_M2_HI = _Q67_AB_S2 * _Q67_S_MAX


def _q67_sql() -> str:
    c = candidate
    near = (
        "list_reduce(peaks, (acc, p) -> CASE WHEN abs(p.mz - ({d})) < "
        "abs(acc.mz - ({d})) THEN p ELSE acc END)"
    )
    return f"""
    WITH sp AS (
      SELECT vec_id,
             ((vec_id * 7) % 3600)::DOUBLE AS rt,
             list_transform(generate_series(1, {c.PEAK_DIM}), i ->
               {{'mz': 100.0 + embedding[i]::DOUBLE * 10,
                 'intensity': (((vec_id * {c.PEAK_DIM} + i - 1) * 37) % 1000)::DOUBLE}}
             ) AS peaks
      FROM embeddings
    ),
    gated AS (
      SELECT * FROM sp WHERE rt >= {_Q67_RT_LO} AND rt <= {_Q67_RT_HI}
    ),
    pk AS (
      SELECT vec_id, rt, peaks, g.i AS pos,
             peaks[g.i].mz AS mz0, peaks[g.i].intensity AS int0
      FROM gated, (SELECT unnest(generate_series(1, {c.PEAK_DIM})) AS i) g
    ),
    iso AS (
      SELECT vec_id, rt, pos, mz0, int0,
             {near.format(d="mz0 + 1.0")} AS near1,
             {near.format(d=f"mz0 + {_Q67_DELTA}")} AS near2
      FROM pk
    ),
    flt AS (
      SELECT vec_id, rt, pos, mz0, int0,
             near1.mz AS mz1, near1.intensity AS int1,
             near2.mz AS mz2, near2.intensity AS int2
      FROM iso
      WHERE near1.intensity >= int0 * {_Q67_M1_LO}
        AND near1.intensity <  int0 * {_Q67_M1_HI}
        AND near2.intensity >= int0 * {_Q67_M2_LO}
        AND near2.intensity <  int0 * {_Q67_M2_HI}
    )
    SELECT vec_id AS num, pos, rt::BIGINT AS rt,
           round(mz0, 6) AS mz0, int0,
           round(mz1, 6) AS mz1, int1,
           round(mz2, 6) AS mz2, int2,
           printf('(%d,((%.6f,%.1f),(%.6f,%.1f),(%.6f,%.1f)))',
                  rt::BIGINT, round(mz0, 6), int0, round(mz1, 6), int1,
                  round(mz2, 6), int2) AS line
    FROM flt
    """


@register("q67_isotope_envelope", _q67_sql())
def q67_isotope_envelope(spark, sf_dir):
    c = candidate
    sp = c.spectra_from_embeddings(read_table(spark, sf_dir, "embeddings")).filter(
        (F.col("rt") >= _Q67_RT_LO) & (F.col("rt") <= _Q67_RT_HI)
    )

    # every peak — Main.scala probes the full peak list (no noise floor)
    probed = c.peak_candidates(F.col("peaks"), deltas=(1.0, _Q67_DELTA))

    def passes(x):
        int0 = x["peak"]["intensity"]
        return (
            (x["near1"]["intensity"] >= int0 * _Q67_M1_LO)
            & (x["near1"]["intensity"] < int0 * _Q67_M1_HI)
            & (x["near2"]["intensity"] >= int0 * _Q67_M2_LO)
            & (x["near2"]["intensity"] < int0 * _Q67_M2_HI)
        )

    mz0 = F.round("mz0", 6)
    mz1 = F.round("mz1", 6)
    mz2 = F.round("mz2", 6)
    return c.candidate_rows(
        sp, F.col("vec_id"), F.col("rt").cast("long"), F.filter(probed, passes)
    ).select(
        "num",
        "pos",
        "rt",
        mz0.alias("mz0"),
        "int0",
        mz1.alias("mz1"),
        "int1",
        mz2.alias("mz2"),
        "int2",
        F.format_string(
            "(%d,((%.6f,%.1f),(%.6f,%.1f),(%.6f,%.1f)))",
            F.col("rt"), mz0, F.col("int0"), mz1, F.col("int1"), mz2,
            F.col("int2"),
        ).alias("line"),
    )


# ---------------------------------------------------------------------------
# q68 — diagnosticIon.sc's two-part report composed end-to-end
# (diagnosticIon.sc:26-50 over libCandidateIons.fillMS2FragmentIon, :256-281):
#
#   fillMS2FragmentIon (:263-280)       → per MS2 spectrum, one Ion per
#     precursor entry whose value matches a user ion of interest within ppm
#     (precisionTest :9-10: |y − value|/y · 1e6 ≤ ppm over the LIST ion y);
#     the Ion carries m0 = value, rt, and fragments = the FULL peak list
#   header "ions      :N" (:35)         → section='header' row, cnt = #ions
#   per-ion group (:37-41)              → group by m0, emit the rt list in
#     stream order (num, scan_num) space-joined — section='ion' rows
#   fragment histogram (:44-50)         → flatMap fragments → group by mz →
#     count — section='fragment' rows
#
# Reference quirks reproduced AND documented (SURVEY §7 policy):
#   1. both "quantizations" — (m0·10000)/10000.0 (:37) and (mz·10)/10.0
#      (:46) — are Double-arithmetic IDENTITY no-ops (the intended trunc
#      never happens), so grouping is by EXACT m0 / fragment mz; we group
#      exactly too (round(·,6) applied symmetrically on both engines only
#      for float-hash portability);
#   2. fillMS2FragmentIon accepts noiseIntensity but never applies it
#      (:270: raw ``spectrum.peaks``) — no noise floor here either.
#
# Scale shape: the ion stream is a stateless scan-project (precursors and
# peaks are both row-local — no self-join); each report section is ONE
# map-side-combined groupBy; the fragment fan-out (64/ion) explodes scan-side.
# The rt list is collected as (num, scan_num, rt) structs and array_sort-ed
# so within-group order is deterministic without a window.
# ---------------------------------------------------------------------------
_Q68_IONS = [495.0, 500.0, 505.0]  # listIonsOfInterest (ref: CLI m/z list)
_Q68_PPM = 2000.0                  # ppm_precision (ref 3, re-scaled to grid)


def _q68_sql() -> str:
    c = candidate
    from stream_reader_mzxml_spark.operators.nested import PREC_DIM

    ions = ", ".join(str(v) for v in _Q68_IONS)
    return f"""
    WITH sp AS (
      SELECT vec_id,
             ((vec_id * 7) % 3600)::BIGINT AS rt,
             list_transform(generate_series(1, {c.PEAK_DIM}), i ->
               {{'mz': 100.0 + embedding[i]::DOUBLE * 10,
                 'intensity': (((vec_id * {c.PEAK_DIM} + i - 1) * 37) % 1000)::DOUBLE}}
             ) AS peaks,
             list_transform(
               generate_series(1, (vec_id % {PREC_DIM + 1})::INT),
               i -> {{'value': 500.0 + embedding[i]::DOUBLE * 10,
                      'scan_num': vec_id * {PREC_DIM} + i - 1}}
             ) AS precursors
      FROM embeddings
    ),
    ions AS (
      SELECT vec_id AS num, rt, peaks, p.value AS m0, p.scan_num
      FROM sp, unnest(sp.precursors) AS t(p)
      WHERE EXISTS (SELECT 1 FROM unnest([{ions}]) AS u(y)
                    WHERE abs(y - p.value) / y * 1e6 <= {_Q68_PPM})
    ),
    hdr AS (
      SELECT 'header' AS section, NULL::DOUBLE AS key, NULL::VARCHAR AS rts,
             count(*) AS cnt
      FROM ions
    ),
    ion_rows AS (
      SELECT 'ion' AS section, round(m0, 6) AS key,
             string_agg(rt::VARCHAR, ' ' ORDER BY num, scan_num) AS rts,
             count(*) AS cnt
      FROM ions GROUP BY round(m0, 6)
    ),
    frag_rows AS (
      SELECT 'fragment' AS section, round(f.mz, 6) AS key,
             NULL::VARCHAR AS rts, count(*) AS cnt
      FROM ions, unnest(ions.peaks) AS t(f)
      GROUP BY round(f.mz, 6)
    )
    SELECT * FROM hdr UNION ALL
    SELECT * FROM ion_rows UNION ALL
    SELECT * FROM frag_rows
    """


@register("q68_diagnostic_report", _q68_sql())
def q68_diagnostic_report(spark, sf_dir):
    from stream_reader_mzxml_spark.operators.nested import precursors_expr

    c = candidate
    sp = c.spectra_from_embeddings(
        read_table(spark, sf_dir, "embeddings"), keep_embedding=True
    ).select(
        "vec_id",
        F.col("rt").cast("long").alias("rt"),
        "peaks",
        precursors_expr().alias("precursors"),
    )
    ions_arr = F.array(*[F.lit(v) for v in _Q68_IONS])
    matched = F.filter(
        F.col("precursors"),
        lambda p: F.exists(
            ions_arr, lambda y: F.abs(y - p["value"]) / y * 1e6 <= _Q68_PPM
        ),
    )
    ions = sp.select(
        F.col("vec_id").alias("num"),
        "rt",
        "peaks",
        F.explode(matched).alias("p"),
    ).select(
        "num", "rt", "peaks",
        F.col("p.value").alias("m0"),
        F.col("p.scan_num").alias("scan_num"),
    )
    # rt list in stream order (num, scan_num): collect tagged structs, sort,
    # project — deterministic without a window or a single-task sort
    ion_rows = (
        ions.groupBy(F.round("m0", 6).alias("key"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("num", "scan_num", "rt"))
            ).alias("tagged"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            F.lit("ion").alias("section"),
            "key",
            F.array_join(
                F.transform(F.col("tagged"), lambda t: t["rt"].cast("string")),
                " ",
            ).alias("rts"),
            "cnt",
        )
    )
    frag_rows = (
        ions.select(F.explode("peaks").alias("f"))
        .groupBy(F.round(F.col("f.mz"), 6).alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.lit("fragment").alias("section"),
            "key",
            F.lit(None).cast("string").alias("rts"),
            "cnt",
        )
    )
    # header derived from the per-m0 aggregate (sum of group counts == total
    # ions), not a raw count over a third full pass: column pruning reduces
    # the header branch to a count-shaped scan of the precursor columns only
    # (no peaks, no rt-list collect) — each report section is an independent
    # pruned pass, the declarative analog of the script's in-memory re-reads
    # of its materialized ion list (diagnosticIon.sc:29,37,45)
    hdr = ion_rows.agg(
        F.lit("header").alias("section"),
        F.lit(None).cast("double").alias("key"),
        F.lit(None).cast("string").alias("rts"),
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("cnt"),
    )
    return hdr.unionByName(ion_rows).unionByName(frag_rows)
