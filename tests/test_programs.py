"""Tests for the round-2 program battery: nested precursor record model +
EP2 None-preserving gate (SpectrumRequest.scala:40-53) and the CandidateIons
head-match tie-break (libCandidateIons.sc:137) against hand goldens."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stream_reader_mzxml_spark.operators.nested import (
    precursor_request_gate,
    with_precursors,
)
from stream_reader_mzxml_spark.pipeline import candidate


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")


@pytest.mark.spark
class TestNestedPrecursorGate:
    def test_none_preserving_and_null_intensity_semantics(self, spark):
        # vec_id=9 → 0 precursor entries (nonEmpty → None branch)
        # vec_id=1 → 1 entry, value 500 (ppm ok) but intensity 296 ≤ 500 → None
        # vec_id=2 → 2 entries, first matches (intensity 592 > 500) → Some
        # vec_id=7 → 7 entries; ONLY element i=1 passes ppm, and that element
        #            has scan_num 57 = 3·19 → NULL intensity → Option.exists
        #            fails the element, row → None (null must not poison)
        far = [50.0] * 64  # value = 1000 → ppm fail
        def vec(hits):  # components whose value ends up at exactly 500.0
            v = list(far)
            for i in hits:
                v[i] = 0.0
            return v

        rows = [
            (9, vec([])),
            (1, vec([0])),
            (2, vec([0])),
            (7, vec([1])),
        ]
        out = {
            r.vec_id: r
            for r in precursor_request_gate(
                with_precursors(_emb(spark, rows)), mz=500.0,
                min_intensity=500.0, ppm=4000.0,
            ).collect()
        }
        assert len(out) == 4  # None-preserving: every input row present
        assert out[9].n_prec == 0 and out[9].passed == 0
        assert out[9].n_match is None and out[9].first_match_value is None
        assert out[1].passed == 0  # intensity (8*37)%1000=296 fails > 500
        assert out[2].passed == 1
        assert out[2].n_match == 1
        assert out[2].first_match_value == 500.0
        assert out[7].passed == 0  # sole ppm-match has NULL intensity

    def test_entry_counts_follow_vec_id(self, spark):
        rows = [(i, [0.0] * 64) for i in range(12)]
        out = {
            r.vec_id: r.n_prec
            for r in precursor_request_gate(
                with_precursors(_emb(spark, rows)), 500.0, 500.0, 4000.0
            ).collect()
        }
        assert out == {i: i % 9 for i in range(12)}


@pytest.mark.spark
class TestCandidateIons:
    def test_head_match_tiebreak_golden(self, spark):
        # ion_list(): ions 0 and 10 share m0=80.0 with rt windows [−300,300]
        # and [−250,350] — a peak at rt=70, mz=80.2 matches BOTH; the
        # reference takes l.head (libCandidateIons.sc:137) = FIRST ion in
        # list order → ion_id 0 must win.
        ions = candidate.ion_list()
        assert ions[0][2] == ions[10][2] == 80.0
        rt, mz = 70.0, 80.2
        both = [
            p for p, rt0, m0, _ in ions
            if abs(rt - rt0) <= candidate.RT_WINDOW
            and abs(m0 - mz) < candidate.MZ_TOL
        ]
        assert both == [0, 10]  # the golden premise: two ions really match

        # vec_id=10 → rt=(10*7)%3600=70; component 0 → mz=100+v*10=80.2,
        # intensity ((640)*37)%1000=680 > noise. Components 1 and 2 are its
        # isotope peaks: mz 81.2 (int 717) and ≈82.196 (int 754) sit on the
        # probes mz0+1.0 and mz0+1.996, inside the ppm and abundance gates,
        # and match no ion themselves.
        v = [200.0] * 64  # other peaks far away (mz=2100), no ion match
        v[0] = -1.98
        v[1] = -1.88
        v[2] = -1.7804
        out = candidate.candidate_ions(_emb(spark, [(10, v)])).collect()
        assert len(out) == 1
        w = out[0]
        assert (w.num, w.pos) == (10, 1)
        assert w.ion_id == 0  # stream-order head, not ion 10
        assert w.fragments == ions[0][3]
        assert w.mz0 == pytest.approx(80.2, abs=1e-5)
        assert (w.int1, w.int2) == (717.0, 754.0)

    def test_nearest_fold_is_first_argmin(self, spark):
        # findClosestValueMz = minBy = FIRST minimal element in list order:
        # two peaks equidistant from the probe → the earlier one wins.
        schema = "probe DOUBLE, peaks ARRAY<STRUCT<mz: DOUBLE, intensity: DOUBLE>>"
        df = spark.createDataFrame([(100.0, [(99.0, 1.0), (101.0, 2.0)])], schema)
        got = df.select(
            candidate.nearest_peak(F.col("peaks"), F.col("probe")).alias("n")
        ).collect()[0].n
        assert got.mz == 99.0 and got.intensity == 1.0

    def test_fused_runs_on_stream(self, spark, tmp_path):
        # stateless projection → runs unchanged as a streaming query; output
        # must equal the batch run row-for-row
        import uuid

        import numpy as np

        rng = np.random.RandomState(29)
        rows = [
            (int(i), [float(x) for x in rng.standard_normal(64)])
            for i in range(120)
        ]
        emb = _emb(spark, rows)
        src = str(tmp_path / "emb_stream")
        emb.repartition(4).write.parquet(src)

        stream = (
            spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
            .option("maxFilesPerTrigger", "2")
            .parquet(src)
        )
        out = candidate.candidate_ions(stream)
        name = f"fused_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        cols = ["num", "rt", "pos", "mz0", "int0", "mz1", "int1",
                "mz2", "int2", "ion_id", "fragments"]
        got = sorted(map(tuple, spark.sql(f"SELECT * FROM {name}")
                         .select(cols).collect()))
        exp = sorted(map(tuple, candidate.candidate_ions(emb)
                         .select(cols).collect()))
        assert len(exp) > 0
        assert got == exp

    def test_end_to_end_runs_and_filters(self, spark, tmp_path):
        # smoke the full program on a small deterministic corpus; every
        # surviving row must satisfy the ppm gates and abundance bands
        import numpy as np

        rng = np.random.RandomState(17)
        rows = [
            (int(i), [float(x) for x in rng.standard_normal(64)])
            for i in range(200)
        ]
        out = candidate.candidate_ions(_emb(spark, rows))
        rows_out = out.collect()
        for r in rows_out:
            d0 = r.mz0 + candidate.DELTA_MP0_MP1
            d1 = r.mz0 + candidate.DELTA_MP0_MP2
            assert abs(r.mz1 - d0) / d0 * 1e6 < candidate.PPM_PRECISION + 1
            assert abs(r.mz2 - d1) / d1 * 1e6 < candidate.PPM_PRECISION + 1
            assert r.int0 * candidate.BAND1_LO <= r.int1 < r.int0 * candidate.BAND1_HI
            assert r.int0 * candidate.BAND2_LO <= r.int2 < r.int0 * candidate.BAND2_HI



@pytest.mark.spark
class TestGlucosinolateCandidates:
    def test_drops_rt_less_scans_and_orders_ties_by_scan(self, spark):
        # every spectrum carries one M0 candidate at the reference defaults:
        # int1 = int2 = 1000 sit inside the C/S bands of int0 = 10000, and M2
        # sits exactly deltaMp0Mp2 above M0
        def peaks(mz0):
            return [(mz0, 10000.0), (mz0 + 1.0, 1000.0), (mz0 + 1.9958, 1000.0)]

        rows = [
            (3, 5.0, peaks(300.0)),  # ties scan 1 on M0; later scan sorts after
            (2, None, peaks(350.0)),  # no retention time → no rows
            (4, 30.0, peaks(400.0)),
            (1, 10.0, peaks(300.0)),
            (5, 40.0, []),  # no peaks → no rows, no error
            (6, 50.0, None),  # NULL peak array → no rows, no error
        ]
        spectra = spark.createDataFrame(
            rows,
            "num BIGINT, rt DOUBLE, "
            "peaks ARRAY<STRUCT<mz: DOUBLE, intensity: DOUBLE>>",
        ).repartition(3)
        got = [
            (r.rt, r.m0_mz, r.m1_mz, round(r.m2_mz, 4))
            for r in candidate.glucosinolate_candidates(spectra).collect()
        ]
        assert got == [
            (30.0, 400.0, 401.0, 401.9958),
            (10.0, 300.0, 301.0, 301.9958),
            (5.0, 300.0, 301.0, 301.9958),
        ]

class TestPrecursorMatchStreaming:
    def test_q44_runs_on_stream(self, spark, tmp_path):
        # q44's fused precursor-match program is one stateless projection —
        # it must run unchanged as a streaming query and emit the batch rows
        # row-for-row (mirrors TestCandidateIons.test_fused_runs_on_stream).
        import uuid

        import numpy as np

        from stream_reader_mzxml_spark.plans.program_queries import (
            precursor_match_scores,
        )

        rng = np.random.RandomState(44)
        rows = [
            (int(i), [float(x) for x in rng.standard_normal(64)])
            for i in range(150)
        ]
        emb = _emb(spark, rows)
        src = str(tmp_path / "emb_stream_q44")
        emb.repartition(4).write.parquet(src)

        stream = (
            spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
            .option("maxFilesPerTrigger", "2")
            .parquet(src)
        )
        out = precursor_match_scores(stream)
        name = f"q44s_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        cols = ["num", "rt", "m0", "i0", "score_di", "score_nl", "report"]
        got = sorted(map(tuple, spark.sql(f"SELECT * FROM {name}")
                         .select(cols).collect()))
        exp = sorted(map(tuple, precursor_match_scores(emb)
                         .select(cols).collect()))
        assert len(exp) > 0
        assert got == exp
