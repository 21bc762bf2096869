"""Vectorized array kernels — the engine's UDF layer (SURVEY.md §2.10).

Per the input_hint, ALL token-array manipulation goes through Arrow-batched
pandas UDFs — never per-row Python ``udf()``. Each kernel has a pure-NumPy
core (``_seg_*`` / ``decode_packed_pairs``) operating on a flattened
(values, lengths) segmented representation — O(batch) numpy, no Python loop
over rows — plus a thin ``pandas_udf`` wrapper.

The segmented-flatten trick: a Series of variable-length arrays is concatenated
into one flat vector plus a lengths vector; per-row reductions become
``np.maximum.reduceat`` over segment starts, and per-row expansions become
index arithmetic over the flat vector.
"""

from __future__ import annotations

import base64
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stream_reader_mzxml_spark.sources.readers import spread_scan

# ---------------------------------------------------------------------------
# segmented-representation helpers
# ---------------------------------------------------------------------------


def _flatten(series: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Series of arrays → (flat values, lengths, null row mask)."""
    isnull = series.isna().to_numpy()
    lens = np.array(
        [0 if n else len(a) for a, n in zip(series, isnull)], dtype=np.int64
    )
    parts = [np.asarray(a) for a, n in zip(series, isnull) if not n and len(a)]
    flat = np.concatenate(parts) if parts else np.array([], dtype=np.float64)
    return flat, lens, isnull


def _segment_starts(lens: np.ndarray) -> np.ndarray:
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    return starts


def seg_band_score(
    flat: np.ndarray, lens: np.ndarray, refs: np.ndarray, tol: float
) -> np.ndarray:
    """Per-segment count of reference values matched within ``tol`` (A10/J2).

    Reference: ``scoreNeutralLoss``/``scoreDaughterIons`` — count of entries in
    a reference list having at least one array element within a tolerance
    (IonEligibleGlucosinolate.scala:42-59, libCandidateIons.sc:53-70).
    Vectorized as a (flat × refs) distance matrix chunked by segment via
    reduceat on the per-ref min.
    """
    n = len(lens)
    out = np.zeros(n, dtype=np.int64)
    if len(flat) == 0 or len(refs) == 0:
        return out
    starts = _segment_starts(lens)
    nonempty = lens > 0
    # (len(flat), len(refs)) bool — OK for batch sizes ≤ ~10k rows × small ref
    hit = np.abs(flat[:, None] - refs[None, :]) < tol
    # any() per segment per ref: max.reduceat over the flat axis
    seg_any = np.maximum.reduceat(hit.astype(np.int8), starts[nonempty], axis=0)
    out[nonempty] = seg_any.sum(axis=1)
    return out


def seg_pairwise_diffs(
    flat: np.ndarray, lens: np.ndarray, max_len: int = 4096
) -> tuple[np.ndarray, np.ndarray]:
    """Per-segment all-pairs differences a_i - a_j, i != j (J4).

    Reference: MainDistributionDiffMzIons.scala:72-93 — for each peak of
    interest × every other peak in the same spectrum, emit the difference.
    Returns (flat diffs, diff counts per segment). O(Σ len²) by nature — the
    skew hotspot; at scale this runs inside an Arrow batch so the quadratic
    blowup stays within one task and never shuffles un-aggregated.
    """
    n = len(lens)
    counts = np.maximum(lens * (lens - 1), 0)
    # uniform-length fast path (embeddings etc.): one 3-D broadcast
    if n and lens.min() == lens.max() and lens[0] >= 2:
        ln = int(lens[0])
        block = flat.reshape(n, ln)
        d = block[:, :, None] - block[:, None, :]  # (n, ln, ln)
        mask = ~np.eye(ln, dtype=bool)
        return d[:, mask].reshape(-1), counts
    # Ragged path: two implementations with a MEASURED crossover.
    #
    # (a) index-arithmetic vectorization (no per-row Python): for output slot
    #     k within a segment of length L, recover the pair as
    #     i = k // (L−1), j = (k mod (L−1)) + [k mod (L−1) >= i] (j skips the
    #     diagonal), then one fancy-indexed subtraction over the whole batch.
    # (b) per-row loop with an O(L²) np.subtract.outer inside.
    #
    # (a) costs ~10 full passes over the output-sized arrays (repeat, div,
    # mod, two gathers...) but no per-row interpreter overhead; (b) costs
    # ~15 µs/row of Python but its L²-sized temporaries stay L1-resident.
    # Interleaved warm micro-bench, 10k rows: lengths 2-4 → (a) 15× faster;
    # 2-8 → 5×; 5-16 → 2×; 17-64 → (b) 7× faster. So: (a) below a mean
    # segment length of 16, (b) above. Emission order is identical in both
    # (i-major, j ascending, diagonal skipped).
    total = int(counts.sum())
    out_dtype = flat.dtype if len(flat) else np.float64
    if total == 0:
        return np.empty(0, dtype=out_dtype), counts
    starts = _segment_starts(lens)
    nonempty = lens >= 2
    if lens[nonempty].mean() <= 16:
        row_of = np.repeat(np.arange(n), counts)
        cum = np.zeros(n, dtype=np.int64)
        np.cumsum(counts[:-1], out=cum[1:])
        k = np.arange(total, dtype=np.int64) - cum[row_of]
        lm1 = lens[row_of] - 1
        i = k // lm1
        jj = k % lm1
        j = jj + (jj >= i)
        base = starts[row_of]
        return flat[base + i] - flat[base + j], counts
    out = np.empty(total, dtype=out_dtype)
    w = 0
    for s, ln in zip(starts, lens):
        if ln < 2:
            continue
        seg = flat[s : s + ln]
        d = np.subtract.outer(seg, seg)
        cnt = ln * (ln - 1)
        out[w : w + cnt] = d[~np.eye(ln, dtype=bool)]
        w += cnt
    return out, counts


# ---------------------------------------------------------------------------
# packed-array decode (S7/S8) — pure function + pandas UDF
# ---------------------------------------------------------------------------


_ASCII_WS = str.maketrans("", "", " \t\n\r\f\v")


def decode_packed_pairs(
    b64: str, precision: int = 32, compressed: bool = True
) -> tuple[np.ndarray, np.ndarray]:
    """base64 → (zlib inflate) → big-endian f32/f64 → de-interleave → drop zeros.

    The reference's single per-record heavy kernel (MzXMLTags.scala:297-327):
    base64 text (:304-305), optional zlib inflate (:284-295), BE float32/64
    branches (:310-325), even indices = m/z, odd = intensity (:315-316,322-323),
    zero-intensity pairs dropped (:326). NumPy ``frombuffer`` + reshape replaces
    the reference's byte loop.

    ASCII whitespace is stripped (line-wrapped ``<peaks>`` text is valid
    mzXML); any other non-alphabet byte, bad padding, a corrupt or truncated
    zlib stream, or a payload that is not whole (m/z, intensity) pairs
    raises ``ValueError`` / ``zlib.error`` instead of decoding to garbage.
    """
    raw = base64.b64decode(b64.translate(_ASCII_WS), validate=True)
    if compressed:
        raw = zlib.decompress(raw)
    dt = np.dtype(">f4" if precision == 32 else ">f8")
    if len(raw) % (2 * dt.itemsize):
        raise ValueError(
            f"{len(raw)} payload bytes are not a whole number of "
            f"{8 * dt.itemsize}-bit pairs"
        )
    arr = np.frombuffer(raw, dtype=dt).astype(np.float64).reshape(-1, 2)
    keep = arr[:, 1] > 0  # zero-intensity pruning at decode (MzXMLTags.scala:326)
    return arr[keep, 0], arr[keep, 1]


_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("mz", T.ArrayType(T.DoubleType())),
        T.StructField("intensity", T.ArrayType(T.DoubleType())),
    ]
)


@F.pandas_udf(_DECODE_SCHEMA)
def decode_peaks_udf(
    b64: pd.Series, precision: pd.Series, compressed: pd.Series
) -> pd.DataFrame:
    """Arrow-batched wrapper of :func:`decode_packed_pairs` (S7/S8)."""
    mzs, ints = [], []
    for s, p, c in zip(b64, precision, compressed):
        if s is None or (isinstance(s, float) and pd.isna(s)):
            mzs.append(None)
            ints.append(None)
            continue
        m, i = decode_packed_pairs(s, int(p), bool(c))
        mzs.append(m)
        ints.append(i)
    return pd.DataFrame({"mz": mzs, "intensity": ints})


# ---------------------------------------------------------------------------
# pandas UDF wrappers over the segmented kernels
# ---------------------------------------------------------------------------

def make_band_score_udf(refs: list[float], tol: float):
    """A10/J2: count of ``refs`` entries with an array element within ``tol``.

    ``refs`` is a plan-time constant (the reference lists are small chemical
    tables, e.g. IonEligibleGlucosinolate.scala:16-28) — captured in the
    closure, shipped once per task via pickle, matrix-broadcast in numpy.
    """
    refs_np = np.asarray(refs, dtype=np.float64)

    @F.pandas_udf(T.IntegerType())
    def band_score(arrays: pd.Series) -> pd.Series:
        flat, lens, isnull = _flatten(arrays)
        out = seg_band_score(flat.astype(np.float64), lens, refs_np, tol)
        return pd.Series(np.where(isnull, None, out), dtype="Int32")

    return band_score


@F.pandas_udf(T.ArrayType(T.DoubleType()))
def pairwise_diffs_udf(arrays: pd.Series) -> pd.Series:
    """J4 kernel: per row, all pairwise differences (i != j), as a flat array."""
    flat, lens, isnull = _flatten(arrays)
    diffs, counts = seg_pairwise_diffs(flat.astype(np.float64), lens)
    out, w = [], 0
    for c, n in zip(counts, isnull):
        if n:
            out.append(None)
        else:
            out.append(diffs[w : w + c])
            w += int(c)
    return pd.Series(out)


def pairwise_diff_counts(df, array_col: str, fix: float = 100.0):
    """J4 + A3 fused with map-side partial aggregation INSIDE the kernel.

    The naive plan (pairwise_diffs_udf → explode → groupBy) ships every raw
    diff (O(Σ len²) doubles) through Arrow and a shuffle. Since the consumer
    is an aggregation, the reduction belongs inside the UDF (SURVEY §4: "do
    reduction early in the UDF by hand — Catalyst can't see into UDFs"):
    each Arrow batch emits its (quantized diff, count) partials — thousands
    of rows instead of millions — and the final groupBy merges partials.
    Quantization matches ``quantize_trunc`` exactly: trunc-toward-zero, +0.0
    to normalize IEEE -0.0.

    Deliberate divergence from the reference (SURVEY §7 "reproduce or
    document"): ``MainDistributionDiffMzIons.scala:87-93`` folds per-spectrum
    count maps with ``acc ++ m.map { case (k, v) => k -> (v + acc.getOrElse
    (k, 0)) }`` — but the ``++`` REPLACES accumulator entries with the
    right-hand map's, so every spectrum after the first overwrites (rather
    than merges into) the running totals for keys it shares; the published
    counts are effectively "last spectrum's count + one prior count". We
    implement the evidently-intended merge (sum of counts across all
    records): the final ``groupBy(diff).sum(cnt)`` is commutative/associative
    over all partials, so no ordering artifact can reproduce the bug here.
    """
    from collections.abc import Iterator

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            flat, lens, _ = _flatten(pdf[array_col])
            diffs, _counts = seg_pairwise_diffs(flat.astype(np.float64), lens)
            q = np.trunc(diffs * fix) / fix + 0.0
            vals, cnts = np.unique(q, return_counts=True)
            yield pd.DataFrame({"diff": vals, "cnt": cnts.astype(np.int64)})

    # round-robin the rows so the O(len²) Python work covers every core —
    # necessary when the source is a single file (one scan task)
    partial = spread_scan(df.select(array_col)).mapInPandas(
        gen, "diff double, cnt long"
    )
    return partial.groupBy("diff").agg(F.sum("cnt").alias("cnt"))
