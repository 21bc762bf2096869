"""The reference's flagship end-to-end analytic — ``CandidateIons``
(libCandidateIons.sc:100-193) — recomposed Spark-first over the driver's
``embeddings`` table as ONE stateless per-row projection.

Reference stages → graft stages (all inside :func:`candidate_ions`):

1. MS1 scan + rt gate (libCandidateIons.sc:112-117)    → derived spectra
   table (rt, peak structs) in the scan's project.
2. noise filter ``intensity > noise`` (:121-123)       → the ``keep``
   predicate of :func:`peak_candidates`, over the row's positional
   ``(pos, peak, ion)`` candidates.
3. precursor-list match (:125-131): spectrum rt within ``ion.rt ± window``
   AND ``|ion.m0 − mz| < tol``                         → ``F.filter`` over
   the ion list, held as an in-plan literal array (the reference closes
   over the MS2-derived list in memory; a literal is the analog).
4. ``l.head.fragments`` (:137) — the FIRST matching ion in **list order**
   wins                                                → element 1 of that
   order-preserving filter. Stream-order tie-break, proven by a hand golden
   in tests.
5. isotope probes ``findClosestValueMz(mz+Δ1), (mz+Δ2)`` (:142-147;
   Spectrum.scala:39-41 ``minBy`` = first minimal in traversal order) →
   the ``near1``/``near2`` fields :func:`peak_candidates` adds to each kept
   candidate with :func:`nearest_peak`, an ordered ``F.aggregate`` fold over
   the FULL peak array (noise peaks included, exactly as the reference
   probes the unfiltered list) with a strict ``<`` comparator, which keeps
   the earlier element on ties — ``minBy`` semantics, bit-identical to the
   DuckDB ``list_reduce`` oracle.
6. double ppm gate (:146-152) and the four isotope-abundance band filters
   (:162-180, the C/S abundance envelope) → plain predicates.
7. Ion record render (:180-190)                        → explode of the
   survivors (:func:`candidate_rows`) + rounded m/z columns and the
   ';'-joined fragment string (C10).

:func:`peak_candidates` and :func:`candidate_rows` are also the per-peak
loop of MainGlucosinolates (:func:`glucosinolate_candidates`, q45), Main.scala
(q67) and databaseIons.sc (q46); each caller keeps its own gates.

Scale: scan → project → generate. No shuffle, no join, no driver
collection; stateless, so it runs unchanged on a streaming DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# re-scaled tolerances (reference values in comments; the graft's value
# density is ~10 units/σ vs the reference's ~0.01 m/z grid)
NOISE_INTENSITY = 100.0  # noiseIntensity
RT_WINDOW = 300.0        # ion rt ± window   (reference ±2 s, :128)
MZ_TOL = 0.5             # |ion.m0 − mz|     (reference 0.01, :129)
DELTA_MP0_MP1 = 1.0      # deltaMp0Mp1 (default, :108)
DELTA_MP0_MP2 = 1.996    # deltaMp0Mp2 (default, :109)
PPM_PRECISION = 10000.0  # isotope ppm gate (re-scaled)
BAND1_LO, BAND1_HI = 0.1, 3.0   # int1/int0 envelope (C-abundance analog)
BAND2_LO, BAND2_HI = 0.05, 5.0  # int2/int0 envelope (S-abundance analog)
N_IONS = 20
PEAK_DIM = 64


def ion_list() -> list[tuple[int, float, float, str]]:
    """The ``listPrecMz`` analog: a deterministic literal precursor-ion list
    (ion_id, rt0, m0, fragments). Small — held in the plan as a literal
    array.

    Ions ``p`` and ``p + N_IONS/2`` share m0 with rt windows offset by only
    50 s (heavily overlapping): real precursor lists carry the same compound
    at multiple retention times, and peaks in the overlap match BOTH ions —
    the case where the reference's ``l.head`` (:137) stream-order tie-break
    decides the answer."""
    out = []
    half = N_IONS // 2
    for p in range(N_IONS):
        family = p % half
        rt0 = float((family * 181) % 3600 + (p // half) * 50)
        m0 = 100.0 + ((family * 17) % 41) - 20.0
        fragments = ";".join(str(p * 3 + j) for j in (1, 2))
        out.append((p, rt0, m0, fragments))
    return out


def spectra_from_embeddings(emb: DataFrame, keep_embedding: bool = False) -> DataFrame:
    """Spectrum model over embeddings: rt = (vec_id·7) mod 3600; peak i has
    mz = 100 + component·10 and a portable arithmetic-hash intensity.

    ``keep_embedding=True`` carries the raw embedding column through the
    projection — for programs (q44) that derive BOTH the peak list and a
    second per-row structure from the same source row; keeping it row-local
    avoids a self-join (and therefore keeps those plans shuffle-free and
    streaming-safe)."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    peaks = F.transform(
        F.sequence(F.lit(0), F.lit(PEAK_DIM - 1)),
        lambda j: F.struct(
            (F.lit(100.0) + F.element_at(v, (j + 1).cast("int")) * 10).alias("mz"),
            F.pmod((F.col("vec_id") * PEAK_DIM + j) * 37, F.lit(1000))
            .cast("double")
            .alias("intensity"),
        ),
    )
    cols = [
        F.col("vec_id"),
        F.pmod(F.col("vec_id") * 7, F.lit(3600)).cast("double").alias("rt"),
        peaks.alias("peaks"),
    ]
    if keep_embedding:
        cols.insert(1, F.col("embedding"))
    return emb.select(*cols)


def nearest_peak(peaks, d):
    """``findClosestValueMz`` (Spectrum.scala:39-41): first argmin of
    |peak.mz − d| in list order, as an ordered left fold.

    The strict ``<`` keeps the earlier peak on ties — ``minBy`` semantics,
    bit-identical to the DuckDB ``list_reduce`` oracles."""
    return F.aggregate(
        peaks,
        F.element_at(peaks, 1),
        lambda acc, p: F.when(
            F.abs(p["mz"] - d) < F.abs(acc["mz"] - d), p
        ).otherwise(acc),
    )


def peak_candidates(peaks, keep=None, fields=None, deltas=None):
    """A row's positional candidate list: ``array<struct<pos, peak, …fields
    [, near1, near2]>>`` over ``peaks``, in list order.

    ``pos`` is the peak's 1-based position, taken from ``F.transform``'s
    index, so fixed and variable-length arrays work alike and an empty or
    NULL array yields no candidates. ``fields`` maps extra field names to
    functions of the peak, evaluated once per peak before ``keep`` (a
    predicate over the candidate struct; None keeps every peak). With
    ``deltas=(d1, d2)`` each kept candidate also gets the isotope probes
    ``near1``/``near2`` = :func:`nearest_peak` over the FULL ``peaks`` at
    ``mz + d1`` and ``mz + d2``."""
    fields = fields or {}
    cands = F.transform(
        peaks,
        lambda p, i: F.struct(
            (i + 1).alias("pos"),
            p.alias("peak"),
            *[f(p).alias(name) for name, f in fields.items()],
        ),
    )
    if keep is not None:
        cands = F.filter(cands, keep)
    if deltas is None:
        return cands
    d1, d2 = deltas
    return F.transform(
        cands,
        lambda c: F.struct(
            *[c[name].alias(name) for name in ("pos", "peak", *fields)],
            nearest_peak(peaks, c["peak"]["mz"] + F.lit(d1)).alias("near1"),
            nearest_peak(peaks, c["peak"]["mz"] + F.lit(d2)).alias("near2"),
        ),
    )


def candidate_rows(spectra: DataFrame, num, rt, cands, *extra) -> DataFrame:
    """One row per probed candidate in ``cands`` (a :func:`peak_candidates`
    array with ``deltas``): ``num, rt, pos, mz0, int0, mz1, int1, mz2, int2``
    with m/z unrounded, then the ``extra`` columns over the exploded
    candidate ``c`` (a name ``spectra`` must not use). ``num`` and ``rt``
    are expressions over ``spectra``'s own columns."""
    return spectra.select("*", F.explode(cands).alias("c")).select(
        num.alias("num"),
        rt.alias("rt"),
        F.col("c.pos").alias("pos"),
        F.col("c.peak.mz").alias("mz0"),
        F.col("c.peak.intensity").alias("int0"),
        F.col("c.near1.mz").alias("mz1"),
        F.col("c.near1.intensity").alias("int1"),
        F.col("c.near2.mz").alias("mz2"),
        F.col("c.near2.intensity").alias("int2"),
        *extra,
    )


def _ion_array():
    """The ion list as an in-plan literal array<struct> (broadcast-free: the
    constants live inside the expression tree, like the reference's closed-over
    ``listPrecMz``)."""
    return F.array(
        *[
            F.struct(
                F.lit(p).alias("ion_id"),
                F.lit(rt0).alias("rt0"),
                F.lit(m0).alias("m0"),
                F.lit(frag).alias("fragments"),
            )
            for p, rt0, m0, frag in ion_list()
        ]
    )


def candidate_ions(df_or_stream: DataFrame) -> DataFrame:
    """The end-to-end program; returns the rendered Ion rows.

    One stateless per-row projection — the shape of the reference itself,
    which runs the whole chain inside one per-spectrum closure
    (libCandidateIons.sc:119-191). Every stage is a JVM higher-order
    function over the row's own arrays: ion match + ``head`` =
    ``element_at(filter(ION_LITERALS, ...), 1)`` (F.filter preserves list
    order, so element 1 IS the stream-order head), isotope probes =
    :func:`nearest_peak`, gates = plain predicates, and only the surviving
    candidates are exploded at the end.

    Scale consequences: ZERO shuffles and no joins — the plan is
    scan → project → generate, trivially parallel at any cluster size, and
    because it is stateless it runs unchanged on a STREAMING DataFrame (no
    watermark needed). q39 checks it against the DuckDB oracle ``_q35_sql``."""
    ions = _ion_array()
    d0 = lambda mz: mz + F.lit(DELTA_MP0_MP1)  # noqa: E731
    d1 = lambda mz: mz + F.lit(DELTA_MP0_MP2)  # noqa: E731

    def ion_match(peak):
        # try_element_at: NULL (no match) instead of an error on empty lists
        return F.try_element_at(
            F.filter(
                ions,
                lambda ion: (F.col("rt") >= ion["rt0"] - F.lit(RT_WINDOW))
                & (F.col("rt") <= ion["rt0"] + F.lit(RT_WINDOW))
                & (F.abs(ion["m0"] - peak["mz"]) < F.lit(MZ_TOL)),
            ),
            F.lit(1),
        )

    probed = peak_candidates(
        F.col("peaks"),
        lambda c: (c["peak"]["intensity"] > F.lit(NOISE_INTENSITY))
        & c["ion"].isNotNull(),
        fields={"ion": ion_match},
        deltas=(DELTA_MP0_MP1, DELTA_MP0_MP2),
    )

    def passes(c):
        mz0, int0 = c["peak"]["mz"], c["peak"]["intensity"]
        ppm0 = F.abs((c["near1"]["mz"] - d0(mz0)) / d0(mz0)) * 1e6
        ppm1 = F.abs((c["near2"]["mz"] - d1(mz0)) / d1(mz0)) * 1e6
        return (
            (ppm0 < F.lit(PPM_PRECISION))
            & (ppm1 < F.lit(PPM_PRECISION))
            & (c["near1"]["intensity"] >= int0 * F.lit(BAND1_LO))
            & (c["near1"]["intensity"] < int0 * F.lit(BAND1_HI))
            & (c["near2"]["intensity"] >= int0 * F.lit(BAND2_LO))
            & (c["near2"]["intensity"] < int0 * F.lit(BAND2_HI))
        )

    return candidate_rows(
        spectra_from_embeddings(df_or_stream),
        F.col("vec_id"),
        F.col("rt"),
        F.filter(probed, passes),
        F.col("c.ion.ion_id").alias("ion_id"),
        F.col("c.ion.fragments").alias("fragments"),
    ).withColumns({m: F.round(m, 6) for m in ("mz0", "mz1", "mz2")})


# ---------------------------------------------------------------------------
# MainGlucosinolates over REAL variable-length spectra (round 5)
# ---------------------------------------------------------------------------


def glucosinolate_candidates(
    spectra: DataFrame,
    min_intensity: float = 7500.0,
    delta_mp0_mp2: float = 1.9958,
    precision_mz: float = 0.0001,
    carbon_min: float = 3.0,
    carbon_max: float = 35.0,
    sulfur_min: float = 1.5,
    sulfur_max: float = 5.0,
) -> DataFrame:
    """``MainGlucosinolates.processSpectrum`` (:163-191) at the REFERENCE
    defaults, over a spectra frame with VARIABLE-length peak arrays.

    Unlike q45 (which runs a re-scaled variant on the fixed-width synthetic
    spectra), this is the program verbatim: candidate peaks are those above
    ``minIntensity`` (:165); each probes the FULL unfiltered peak list for
    the nearest m/z to mz0+1.0 and mz0+deltaMp0Mp2 (:168-169,
    Spectrum.scala:39-41 ``minBy`` = first argmin); the M2-offset gate
    (:173) and the C/S abundance envelope (:181-191) keep the survivors,
    emitted as (rt, M0, M1, M2) rows sorted by −M0_mz (:133). Scans with
    no retention time yield no rows, as the reference's
    ``retentionTimeInSeconds.map`` drops them. M0_mz ties keep the
    reference's stable-sort order: scan ``num``, then peak position.

    Input: ``(num, rt, peaks array<struct<mz,intensity>>)`` — e.g. the real
    mzXML ingest (``sources.mzxml``) with
    ``arrays_zip(mz, intensity)``-formed peaks. All expression-level: one
    scan projection + one explode, no shuffle before the final sort.
    """
    from stream_reader_mzxml_spark.functions.chem import ABUNDANCE_ISOTOPE

    ab_c1 = ABUNDANCE_ISOTOPE["C"][1]
    ab_s2 = ABUNDANCE_ISOTOPE["S"][2]
    probed = peak_candidates(
        F.col("peaks"),
        lambda c: c["peak"]["intensity"] > F.lit(min_intensity),
        deltas=(1.0, delta_mp0_mp2),
    )

    def passes(c):
        mz0, int0 = c["peak"]["mz"], c["peak"]["intensity"]
        int1, int2 = c["near1"]["intensity"], c["near2"]["intensity"]
        return (
            (F.abs(c["near2"]["mz"] - mz0 - F.lit(delta_mp0_mp2)) < F.lit(precision_mz))
            & (int1 >= int0 * F.lit(ab_c1 * carbon_min))
            & (int1 < int0 * F.lit(ab_c1 * carbon_max))
            & (int2 >= int0 * F.lit(ab_s2 * sulfur_min))
            & (int2 < int0 * F.lit(ab_s2 * sulfur_max))
        )

    return (
        candidate_rows(
            spectra.filter(F.col("rt").isNotNull()),
            F.col("num"),
            F.col("rt").cast("double"),
            F.filter(probed, passes),
        )
        .orderBy(F.col("mz0").desc(), "num", "pos")
        .select(
            "rt",
            F.col("mz0").alias("m0_mz"),
            F.col("int0").alias("m0_intensity"),
            F.col("mz1").alias("m1_mz"),
            F.col("int1").alias("m1_intensity"),
            F.col("mz2").alias("m2_mz"),
            F.col("int2").alias("m2_intensity"),
        )
    )
