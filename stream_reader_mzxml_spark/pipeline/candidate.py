"""The reference's flagship end-to-end analytic — ``CandidateIons``
(libCandidateIons.sc:100-193) — recomposed Spark-first over the driver's
``embeddings`` table as ONE stateless per-row projection.

Reference stages → graft stages (all inside :func:`candidate_ions`):

1. MS1 scan + rt gate (libCandidateIons.sc:112-117)    → derived spectra
   table (rt, peak structs) in the scan's project.
2. noise filter ``intensity > noise`` (:121-123)       → ``F.filter``
   predicate over the row's candidate peaks.
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
   :func:`nearest_peak`, an ordered ``F.aggregate`` fold over the FULL peak
   array (noise peaks included, exactly as the reference probes the
   unfiltered list) with a strict ``<`` comparator, which keeps the earlier
   element on ties — ``minBy`` semantics, bit-identical to the DuckDB
   ``list_reduce`` oracle.
6. double ppm gate (:146-152) and the four isotope-abundance band filters
   (:162-180, the C/S abundance envelope) → plain predicates.
7. Ion record render (:180-190)                        → explode of the
   survivors + final select with rounded m/z columns and the ';'-joined
   fragment string (C10).

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
    spectra = spectra_from_embeddings(df_or_stream)
    peaks = F.col("peaks")
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

    idx = F.sequence(F.lit(1), F.lit(PEAK_DIM))
    cands = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"),
            F.element_at(peaks, i.cast("int")).alias("peak"),
            ion_match(F.element_at(peaks, i.cast("int"))).alias("ion"),
        ),
    )
    kept = F.filter(
        cands,
        lambda c: (c["peak"]["intensity"] > F.lit(NOISE_INTENSITY))
        & c["ion"].isNotNull(),
    )
    probed = F.transform(
        kept,
        lambda c: F.struct(
            c["pos"].alias("pos"),
            c["peak"].alias("peak"),
            c["ion"].alias("ion"),
            nearest_peak(peaks, d0(c["peak"]["mz"])).alias("near1"),
            nearest_peak(peaks, d1(c["peak"]["mz"])).alias("near2"),
        ),
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

    out = spectra.select(
        "vec_id", "rt", F.explode(F.filter(probed, passes)).alias("c")
    )
    return out.select(
        F.col("vec_id").alias("num"),
        "rt",
        F.col("c.pos").alias("pos"),
        F.round(F.col("c.peak.mz"), 6).alias("mz0"),
        F.col("c.peak.intensity").alias("int0"),
        F.round(F.col("c.near1.mz"), 6).alias("mz1"),
        F.col("c.near1.intensity").alias("int1"),
        F.round(F.col("c.near2.mz"), 6).alias("mz2"),
        F.col("c.near2.intensity").alias("int2"),
        F.col("c.ion.ion_id").alias("ion_id"),
        F.col("c.ion.fragments").alias("fragments"),
    )


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
    peaks = F.col("peaks")
    kept = F.filter(peaks, lambda p: p["intensity"] > F.lit(min_intensity))

    probed = F.transform(
        kept,
        lambda x: F.struct(
            x.alias("p0"),
            nearest_peak(peaks, x["mz"] + F.lit(1.0)).alias("p1"),
            nearest_peak(peaks, x["mz"] + F.lit(delta_mp0_mp2)).alias("p2"),
        ),
    )

    def passes(t):
        mz0, int0 = t["p0"]["mz"], t["p0"]["intensity"]
        int1, int2 = t["p1"]["intensity"], t["p2"]["intensity"]
        return (
            (F.abs(t["p2"]["mz"] - mz0 - F.lit(delta_mp0_mp2)) < F.lit(precision_mz))
            & (int1 >= int0 * F.lit(ab_c1 * carbon_min))
            & (int1 < int0 * F.lit(ab_c1 * carbon_max))
            & (int2 >= int0 * F.lit(ab_s2 * sulfur_min))
            & (int2 < int0 * F.lit(ab_s2 * sulfur_max))
        )

    return (
        spectra.filter(F.col("rt").isNotNull())
        .select(
            "num",
            F.col("rt").cast("double").alias("rt"),
            F.posexplode(F.filter(probed, passes)).alias("pos", "t"),
        )
        .orderBy(F.col("t.p0.mz").desc(), "num", "pos")
        .select(
            "rt",
            F.col("t.p0.mz").alias("m0_mz"),
            F.col("t.p0.intensity").alias("m0_intensity"),
            F.col("t.p1.mz").alias("m1_mz"),
            F.col("t.p1.intensity").alias("m1_intensity"),
            F.col("t.p2.mz").alias("m2_mz"),
            F.col("t.p2.intensity").alias("m2_intensity"),
        )
    )
