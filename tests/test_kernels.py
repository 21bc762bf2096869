"""Kernel goldens vs brute-force NumPy oracles (SURVEY.md §5 test plan (a))."""

from __future__ import annotations

import base64
import string
import zlib

import numpy as np
import pandas as pd
import pytest
from hypothesis import assume, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from stream_reader_mzxml_spark.functions.kernels import (
    decode_packed_pairs,
    seg_band_score,
    seg_pairwise_diffs,
)
from stream_reader_mzxml_spark.pipeline.candidate import nearest_peak


def _pack(pairs, precision=32, compress=True):
    """Build a reference-style packed peak blob: interleaved BE floats."""
    arr = np.asarray(pairs, dtype=np.float64).reshape(-1)
    raw = arr.astype(">f4" if precision == 32 else ">f8").tobytes()
    if compress:
        raw = zlib.compress(raw)
    return base64.b64encode(raw).decode("ascii")


class TestDecode:
    """S7/S8 — MzXMLTags.scala:297-327 semantics."""

    def test_golden_first_pair(self):
        # mirror of MzXMLTagsTest.scala:255-256: first decoded pair ≈ (129.028, 6.992)
        pairs = [(129.02847, 6.9921), (130.5, 100.0), (200.25, 0.0)]
        for precision in (32, 64):
            for compress in (True, False):
                mz, it = decode_packed_pairs(
                    _pack(pairs, precision, compress), precision, compress
                )
                assert abs(mz[0] - 129.028) < 0.1
                assert abs(it[0] - 6.992) < 0.1

    def test_zero_intensity_dropped(self):
        # MzXMLTags.scala:326 — pairs with intensity == 0 are pruned at decode
        pairs = [(1.0, 0.0), (2.0, 5.0), (3.0, 0.0), (4.0, 1.0)]
        mz, it = decode_packed_pairs(_pack(pairs, 64, True), 64, True)
        assert mz.tolist() == [2.0, 4.0]
        assert it.tolist() == [5.0, 1.0]

    def test_count_matches_declared(self):
        # MzXMLTagsTest.scala:254 — decoded length == declared count
        rng = np.random.default_rng(7)
        pairs = np.column_stack([rng.random(50) * 1000, rng.random(50) + 0.1])
        mz, it = decode_packed_pairs(_pack(pairs, 64, True), 64, True)
        assert len(mz) == len(it) == 50


_B64_ALPHABET = frozenset(string.ascii_letters + string.digits + "+/=")
_DECODE_ERRORS = (ValueError, zlib.error)
_adv = settings(max_examples=150, deadline=None)
_peaks = st.lists(
    st.tuples(
        st.floats(0.0, 2000.0, width=32), st.floats(0.0, 1e6, width=32)
    ),
    min_size=1,
    max_size=24,
)
_precision = st.sampled_from([32, 64])


class TestDecodeAdversarial:
    """Malformed ``<peaks>`` payloads (ROADMAP Direction 4): every one raises,
    none decodes to arrays."""

    @_adv
    @given(_peaks, _precision, st.booleans(), st.data())
    def test_ascii_whitespace_is_ignored(self, pairs, precision, compress, data):
        text = _pack(pairs, precision, compress)
        wrapped = text
        for _ in range(data.draw(st.integers(1, 6))):
            i = data.draw(st.integers(0, len(wrapped)))
            ws = data.draw(st.sampled_from(" \t\n\r\f\v"))
            wrapped = wrapped[:i] + ws + wrapped[i:]
        want = decode_packed_pairs(text, precision, compress)
        got = decode_packed_pairs(wrapped, precision, compress)
        assert all(np.array_equal(w, g) for w, g in zip(want, got))

    @_adv
    @given(
        _peaks, _precision, st.booleans(), st.data(),
        st.characters(
            exclude_characters=list(_B64_ALPHABET) + list(" \t\n\r\f\v")
        ),
    )
    def test_non_alphabet_character_raises(
        self, pairs, precision, compress, data, bad
    ):
        text = _pack(pairs, precision, compress)
        i = data.draw(st.integers(0, len(text)))
        with pytest.raises(ValueError):
            decode_packed_pairs(text[:i] + bad + text[i:], precision, compress)

    @_adv
    @given(_peaks, _precision, st.booleans(), st.data())
    def test_truncated_base64_raises(self, pairs, precision, compress, data):
        text = _pack(pairs, precision, compress)
        cut = data.draw(st.integers(1, len(text) - 1))
        # a raw payload cut on a 4-char quantum (3 bytes each) AND a whole
        # pair is a valid shorter array (only peaksCount can tell)
        assume(compress or cut % 4 or (3 * cut // 4) % (2 * precision // 8))
        with pytest.raises(_DECODE_ERRORS):
            decode_packed_pairs(text[:cut], precision, compress)

    @_adv
    @given(_peaks, _precision, st.data())
    def test_corrupt_zlib_stream_raises(self, pairs, precision, data):
        raw = np.asarray(pairs, dtype=np.float64).reshape(-1)
        raw = raw.astype(">f4" if precision == 32 else ">f8").tobytes()
        blob = bytearray(zlib.compress(raw))
        i = data.draw(st.integers(0, len(blob) - 1))
        blob[i] ^= data.draw(st.integers(1, 255))
        # a flip in the 2-byte header or the deflate body can land on bits
        # inflate never reads (a stored block's alignment padding, or another
        # valid header): then the stream still means ``raw``, and there is
        # nothing to detect; a flip in the Adler-32 trailer always counts
        try:
            inflated = zlib.decompressobj(-15).decompress(bytes(blob[2:-4]))
        except zlib.error:
            inflated = None
        assume(i >= len(blob) - 4 or inflated != raw)
        text = base64.b64encode(bytes(blob)).decode("ascii")
        with pytest.raises(_DECODE_ERRORS):
            decode_packed_pairs(text, precision, True)

    @_adv
    @given(_precision, st.booleans(), st.binary(min_size=1, max_size=200))
    def test_partial_pair_payload_raises(self, precision, compress, payload):
        assume(len(payload) % (2 * precision // 8))
        raw = zlib.compress(payload) if compress else payload
        text = base64.b64encode(raw).decode("ascii")
        with pytest.raises(ValueError, match="whole number"):
            decode_packed_pairs(text, precision, compress)


class TestBandScore:
    """A10/J2 — IonEligibleGlucosinolate.scala:42-59 count-of-matched-refs."""

    def _oracle(self, arrays, refs, tol):
        return [
            sum(1 for r in refs if any(abs(r - x) < tol for x in a)) for a in arrays
        ]

    def test_vs_oracle(self):
        rng = np.random.default_rng(3)
        arrays = [rng.random(rng.integers(0, 20)) * 100 for _ in range(100)]
        refs = rng.random(7) * 100
        flat = np.concatenate([a for a in arrays if len(a)]) if arrays else np.array([])
        lens = np.array([len(a) for a in arrays])
        got = seg_band_score(flat, lens, refs, 0.5)
        assert got.tolist() == self._oracle(arrays, refs, 0.5)


class TestNearest:
    """J1 — Spectrum.scala:39-41 minBy(abs) with first-min tie-break, as the
    ``nearest_peak`` fold."""

    SCHEMA = "probe DOUBLE, peaks ARRAY<STRUCT<mz: DOUBLE, intensity: DOUBLE>>"

    def _nearest(self, spark, rows):
        return [
            r.n
            for r in spark.createDataFrame(rows, self.SCHEMA)
            .select(nearest_peak(F.col("peaks"), F.col("probe")).alias("n"))
            .collect()
        ]

    def test_vs_oracle_random(self, spark):
        # integer-valued peaks (many ties) against numpy's first argmin; each
        # peak's intensity carries its list position
        rng = np.random.default_rng(11)
        arrays = [rng.integers(0, 1000, size=rng.integers(1, 30)).astype(float) for _ in range(200)]
        probes = rng.random(200) * 1000
        rows = [
            (float(p), [(float(x), float(j)) for j, x in enumerate(a)])
            for a, p in zip(arrays, probes)
        ]
        got = self._nearest(spark, rows)
        for a, p, n in zip(arrays, probes, got):
            i = int(np.argmin(np.abs(a - p)))  # np.argmin = first min, like minBy
            assert n.intensity == i
            assert n.mz == a[i]

    def test_tie_break_first(self, spark):
        # probe 5.0 equidistant from 6 and 4 → minBy returns the FIRST (6)
        (n,) = self._nearest(spark, [(5.0, [(6.0, 0.0), (4.0, 1.0), (9.0, 2.0)])])
        assert n.intensity == 0.0 and n.mz == 6.0  # first in array order


class TestPairwiseDiffs:
    """J4 — MainDistributionDiffMzIons.scala:72-93 all-pairs differences."""

    def test_vs_oracle(self):
        arrays = [np.array([1.0, 3.0, 7.0]), np.array([2.0]), np.array([]), np.array([5.0, 5.5])]
        flat = np.concatenate([a for a in arrays if len(a)])
        lens = np.array([len(a) for a in arrays])
        diffs, counts = seg_pairwise_diffs(flat, lens)
        assert counts.tolist() == [6, 0, 0, 2]
        # row 0: 1-3, 1-7, 3-1, 3-7, 7-1, 7-3 (row-major, i!=j)
        assert diffs[:6].tolist() == [-2.0, -6.0, 2.0, -4.0, 6.0, 4.0]
        assert diffs[6:8].tolist() == [-0.5, 0.5]

    @staticmethod
    def _brute(arrays):
        out = []
        for a in arrays:
            for i in range(len(a)):
                for j in range(len(a)):
                    if i != j:
                        out.append(float(a[i] - a[j]))
        return out

    def test_ragged_branches_agree(self):
        # the ragged path picks index-arithmetic vectorization below mean
        # length 16 and the per-row outer-product loop above (measured
        # crossover) — both must emit the brute-force rows in the same order
        rng = np.random.RandomState(7)
        for lo, hi in [(2, 6), (17, 40)]:  # one case per branch
            arrays = [
                rng.standard_normal(rng.randint(lo, hi)) for _ in range(25)
            ] + [np.array([]), np.array([4.0])]
            flat = np.concatenate([a for a in arrays if len(a)])
            lens = np.array([len(a) for a in arrays], dtype=np.int64)
            diffs, counts = seg_pairwise_diffs(flat, lens)
            assert counts.tolist() == [len(a) * (len(a) - 1) for a in arrays]
            assert diffs.tolist() == pytest.approx(self._brute(arrays))


@pytest.mark.spark
class TestUdfWrappers:
    """The Arrow-batched wrappers produce identical results via Spark."""

    def test_band_score_udf(self, spark):
        from stream_reader_mzxml_spark.functions.kernels import make_band_score_udf

        udf = make_band_score_udf([10.0, 20.0, 30.0], tol=0.5)
        df = spark.createDataFrame(
            pd.DataFrame({"arr": [[10.2, 29.9], [50.0], [9.6, 19.6, 30.4]]})
        )
        got = [r[0] for r in df.select(udf("arr")).collect()]
        assert got == [2, 0, 3]

    def test_pairwise_udf(self, spark):
        from pyspark.sql import functions as F

        from stream_reader_mzxml_spark.functions.kernels import pairwise_diffs_udf

        df = spark.createDataFrame(pd.DataFrame({"arr": [[1.0, 4.0], [7.0]]}))
        got = [r[0] for r in df.select(pairwise_diffs_udf("arr")).collect()]
        assert got[0] == [-3.0, 3.0]
        assert got[1] == []

    def test_decode_udf(self, spark):
        from stream_reader_mzxml_spark.functions.kernels import decode_peaks_udf

        blob = _pack([(129.02847, 6.9921), (200.0, 0.0), (300.5, 2.0)], 32, True)
        df = spark.createDataFrame(
            pd.DataFrame({"b64": [blob], "precision": [32], "compressed": [True]})
        )
        row = df.select(
            decode_peaks_udf("b64", "precision", "compressed").alias("d")
        ).collect()[0]["d"]
        assert len(row.mz) == 2  # zero-intensity pair dropped
        assert abs(row.mz[0] - 129.028) < 0.1 and abs(row.intensity[0] - 6.992) < 0.1
