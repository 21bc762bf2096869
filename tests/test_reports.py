"""Tests for the round-3 report battery: a hand-computed golden spectrum for
q45 (MainGlucosinolates end-to-end), a hand-computed db-lookup golden for q46
(databaseIons.sc), and the q44 streaming row-for-row equality check (the
fused precursor-match program is stateless and must run unchanged on a
stream, mirroring q39's test)."""

from __future__ import annotations

import pytest

from stream_reader_mzxml_spark.plans import report_queries as rq
from stream_reader_mzxml_spark.plans.program_queries import precursor_match_scores


def _write_embeddings(spark, tmp_path, rows, name="sf"):
    """Materialize an embeddings.parquet under a tmp sf_dir and return it."""
    sf = tmp_path / name
    sf.mkdir()
    spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>").write.parquet(
        str(sf / "embeddings.parquet")
    )
    return str(sf)


@pytest.mark.spark
class TestGlucosinolatesGolden:
    def test_q45_hand_computed_spectrum(self, spark, tmp_path):
        # vec_id=100 → rt = (100·7) % 3600 = 700 ∈ [100, 3500] (rt gate ok);
        # intensity(j) = ((6400 + j)·37) % 1000 = (800 + 37j) % 1000:
        #   j=0 → 800, j=7 → 59, j=8 → 96.
        # Components (float32-exact values):
        #   v[0] = 0      → mz0 = 100.0,   int0 = 800 > 500 (M0 candidate)
        #   v[7] = 0.125  → mz  = 101.25   (nearest to mz0+1,      int1 = 59)
        #   v[8] = 0.1875 → mz  = 101.875  (nearest to mz0+1.9958, int2 = 96)
        #   v[j] = 30 + j elsewhere → mz ≥ 400, 10 apart: every far peak's
        #   nearest-to-(mz+1) probe is ITSELF → int1/int0 = 1 fails the carbon
        #   band AND |mz2−mz0−Δ| ≈ 2 fails precision → only j=0 survives.
        # Gates for j=0, by hand:
        #   |101.875 − 100 − 1.9958| = 0.1208 < 0.5                 (precision)
        #   59  ∈ [800·0.0108·3,  800·0.0108·35) = [25.92, 302.4)   (carbon)
        #   96  ∈ [800·0.0444·1.5, 800·0.0444·5) = [53.28, 177.6)   (sulfur)
        v = [30.0 + j for j in range(64)]
        v[0], v[7], v[8] = 0.0, 0.125, 0.1875
        sf = _write_embeddings(spark, tmp_path, [(100, v)])

        rows = rq.q45_glucosinolates(spark, sf).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r.num, r.pos, r.rt) == (100, 1, 700.0)
        assert (r.mz0, r.int0) == (100.0, 800.0)
        assert (r.mz1, r.int1) == (101.25, 59.0)
        assert (r.mz2, r.int2) == (101.875, 96.0)
        assert (r.rank, r.n_spectra) == (1, 1)
        assert r.line == "700.0;100.000000;800.0;101.250000;59.0;101.875000;96.0"

    def test_q45_rt_gate_excludes_spectrum(self, spark, tmp_path):
        # vec_id=14 → rt = 98 < 100 → dropped by the rt range gate AND
        # excluded from the two-pass n_spectra count (MainGlucosinolates
        # .scala:105-113 counts the FILTERED stream)
        v = [30.0 + j for j in range(64)]
        v[0], v[7], v[8] = 0.0, 0.125, 0.1875
        sf = _write_embeddings(spark, tmp_path, [(14, v)])
        assert rq.q45_glucosinolates(spark, sf).count() == 0


@pytest.mark.spark
class TestDatabaseIonsGolden:
    def test_q46_single_match_render(self, spark, tmp_path):
        # db entry ID3 sits at mz 80 + 3·3.7 = 91.1; v[0] = -0.89 puts peak 1
        # at mz ≈ 91.10000038 — within the 2000 ppm window (±0.1822) of ID3
        # only. int(j=0) = 800 > 500. All other peaks at mz ≥ 400 match no db
        # entry (db max 124.4) → exactly one rendered row.
        assert rq._Q46_DB[2] == ("ID3", 91.1)
        v = [30.0 + j for j in range(64)]
        v[0] = -0.89
        sf = _write_embeddings(spark, tmp_path, [(100, v)])

        rows = rq.q46_database_ions(spark, sf).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r.num, r.rt, r.ms_level, r.pos) == (100, 700, 1, 1)
        assert r.mz == pytest.approx(91.1, abs=1e-5)
        assert r.int0 == 800.0
        assert r.ids == "Set(ID3)"
        assert r.line == "700;1;100;91.100000;Set(ID3)"

    def test_q46_below_noise_dropped(self, spark, tmp_path):
        # vec_id=5 → intensity(j=0) = ((320)·37) % 1000 = 840 > 500 passes;
        # use j=6 (int = (840+222)%1000 = 62 < 500): a db-matching mz on a
        # below-noise peak must NOT produce a row (noise filter precedes the
        # db lookup, databaseIons.sc:42-44)
        v = [30.0 + j for j in range(64)]
        v[6] = -0.89  # mz ≈ 91.1 = ID3, but intensity 62 < 500
        sf = _write_embeddings(spark, tmp_path, [(5, v)])
        assert rq.q46_database_ions(spark, sf).count() == 0


@pytest.mark.spark
class TestPrecursorMatchStreaming:
    def test_q44_runs_on_stream_row_for_row(self, spark, tmp_path):
        # the fused program is a stateless projection → identical rows when
        # run as a micro-batched stream (the q39 treatment for q44)
        import uuid

        import numpy as np

        rng = np.random.RandomState(31)
        rows = [
            (int(i), [float(x) for x in rng.standard_normal(64)])
            for i in range(120)
        ]
        emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
        src = str(tmp_path / "emb_stream")
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
        got = sorted(
            map(tuple, spark.sql(f"SELECT * FROM {name}").select(cols).collect())
        )
        exp = sorted(map(tuple, precursor_match_scores(emb).select(cols).collect()))
        assert len(exp) > 0
        assert got == exp


@pytest.mark.spark
class TestContextChunksStreaming:
    def test_chunking_stream_equals_batch(self, spark, tmp_path):
        # context chunking is a stateless posexplode projection -> identical
        # rows when run as a micro-batched stream
        import uuid

        from stream_reader_mzxml_spark.pipeline.text import context_chunks

        rows = [
            (int(i), " ".join(f"w{(i * 7 + j) % 97}" for j in range(5 + (i * 13) % 80)))
            for i in range(60)
        ]
        docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
        src = str(tmp_path / "docs_chunk_stream")
        docs.repartition(3).write.parquet(src)
        stream = (
            spark.readStream.schema("doc_id BIGINT, text STRING")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = context_chunks(stream)
        name = f"q52s_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(map(tuple, spark.sql(f"SELECT * FROM {name}").collect()))
        exp = sorted(map(tuple, context_chunks(docs).collect()))
        assert len(exp) > 0 and got == exp


@pytest.mark.spark
class TestIsotopeEnvelopeGolden:
    def test_q67_hand_computed_spectrum(self, spark, tmp_path):
        # Same spectrum model as q45's golden: vec_id=100 → rt = 700 ∈
        # [150, 3300]; intensity(j) = (800 + 37j) % 1000.
        #   j=0 → mz0 = 100.0,  int0 = 800 (every peak is probed — Main.scala
        #                                   has NO minIntensity floor)
        #   j=7 → mz 101.25,   int 59  (nearest to mz0+1.0)
        #   j=8 → mz 101.875,  int 96  (nearest to mz0+1.996)
        # Main.scala's COMBINED C+S band on M+1 (unlike q45's carbon-only):
        #   M1_LO = 0.0108·3 + 0.00789·1.5 = 0.044235 → 800·0.044235 = 35.388
        #   M1_HI = 0.0108·35 + 0.00789·5 = 0.41745  → 800·0.41745 = 333.96
        #   int1 = 59 ∈ [35.388, 333.96)                               ✓
        # S band on M+2: 96 ∈ [800·0.0444·1.5, 800·0.0444·5) = [53.28,177.6) ✓
        # Every far peak (mz = 400+10j, spacing 10) probes ITSELF for M+1
        # (ratio 1 > 0.41745 fails); j=7 probes j=8 (96 > 59·0.41745=24.6
        # fails); j=8 probes itself (fails) → only j=0 survives.
        v = [30.0 + j for j in range(64)]
        v[0], v[7], v[8] = 0.0, 0.125, 0.1875
        sf = _write_embeddings(spark, tmp_path, [(100, v)])

        rows = rq.q67_isotope_envelope(spark, sf).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r.num, r.pos, r.rt) == (100, 1, 700)
        assert (r.mz0, r.int0) == (100.0, 800.0)
        assert (r.mz1, r.int1) == (101.25, 59.0)
        assert (r.mz2, r.int2) == (101.875, 96.0)
        assert r.line == (
            "(700,((100.000000,800.0),(101.250000,59.0),(101.875000,96.0)))"
        )

    def test_q67_rt_gate_excludes_spectrum(self, spark, tmp_path):
        # vec_id=14 → rt = 98 < 150 → dropped by the rt range gate
        v = [30.0 + j for j in range(64)]
        v[0], v[7], v[8] = 0.0, 0.125, 0.1875
        sf = _write_embeddings(spark, tmp_path, [(14, v)])
        assert rq.q67_isotope_envelope(spark, sf).count() == 0


@pytest.mark.spark
class TestDiagnosticReportGolden:
    def test_q68_hand_computed_report(self, spark, tmp_path):
        # vec_id=100 → 100 % 9 = 1 precursor entry, i=0: value = 500 +
        # v[0]·10 = 495.0 — EXACTLY listIons[0] (precisionTest Δ = 0 ppm);
        # rt = 700; scan_num = 800. fragments = the FULL 64-peak list
        # (fillMS2FragmentIon never applies its noiseIntensity parameter —
        # reference quirk reproduced): mz 95.0 (j=0) and 400+10j (j≥1), all
        # distinct → header(cnt=1) + 1 ion row + 64 fragment rows = 66.
        v = [30.0 + j for j in range(64)]
        v[0] = -0.5
        sf = _write_embeddings(spark, tmp_path, [(100, v)])

        rows = rq.q68_diagnostic_report(spark, sf).collect()
        by_sec = {}
        for r in rows:
            by_sec.setdefault(r.section, []).append(r)
        assert len(by_sec["header"]) == 1 and by_sec["header"][0].cnt == 1
        (ion,) = by_sec["ion"]
        assert (ion.key, ion.rts, ion.cnt) == (495.0, "700", 1)
        frags = by_sec["fragment"]
        assert len(frags) == 64 and all(f.cnt == 1 for f in frags)
        assert {f.key for f in frags} == {95.0} | {
            400.0 + 10 * j for j in range(1, 64)
        }
        assert len(rows) == 66

    def test_q68_no_precursor_match_is_header_only(self, spark, tmp_path):
        # value = 520 → >2000 ppm from every ion of interest → zero ions;
        # the header row (ions:0) is still emitted, like the script's file
        v = [30.0 + j for j in range(64)]
        v[0] = 2.0
        sf = _write_embeddings(spark, tmp_path, [(100, v)])
        rows = rq.q68_diagnostic_report(spark, sf).collect()
        assert len(rows) == 1
        assert (rows[0].section, rows[0].cnt) == ("header", 0)
