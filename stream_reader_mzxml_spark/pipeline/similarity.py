"""Similarity search over embedding columns: brute-force and LSH-bucketed ANN.

Brute-force cosine top-k is the correctness baseline: broadcast the (small)
probe set against the corpus — one scan, no O(n²) shuffle — and rank with a
per-probe top-k. The scale path is random-hyperplane LSH: each vector maps
to a bucket id from the sign pattern of ``n_planes`` fixed hyperplane dot
products; candidates are corpus vectors in the probe's bucket, so the join is
an equi-join on ``bucket`` (shuffle keyed by bucket; recall from ±2-bit
multi-probe). Hyperplanes and probe flip masks are seeded constants embedded
in the plan — the DuckDB oracle uses the same literals, so results match
exactly.

Dot products are ordered left-folds (bit-identical to the oracle's ordered
``list_sum``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.aggregates import top_k

N_PLANES = 8
DIM = 64
# multi-probe flip masks: the probe's own bucket, every 1-bit flip and every
# 2-bit flip (1 + 8 + 28 = 37 probe buckets); the q30 oracle reads the same
# tuple
PROBE_FLIPS = (
    0,
    *(1 << p for p in range(N_PLANES)),
    *((1 << p) | (1 << q) for p in range(N_PLANES) for q in range(p + 1, N_PLANES)),
)


def hyperplanes(n_planes: int = N_PLANES, dim: int = DIM, seed: int = 11):
    """Deterministic hyperplane matrix, rounded to 4 decimals so the literal
    values embedded in the Spark plan and the oracle SQL string are the same
    short decimal text on both sides."""
    rng = np.random.RandomState(seed)
    return np.round(rng.standard_normal((n_planes, dim)), 4)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot_lit(vec_col, plane: np.ndarray):
    """Ordered dot product of an array column with a literal plane."""
    arr = F.array(*[F.lit(float(x)) for x in plane])
    return F.aggregate(
        F.zip_with(vec_col, arr, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def bucket_id(vec_col, planes: np.ndarray):
    """LSH bucket: Σ (dot(v, plane_p) >= 0) · 2^p."""
    out = F.lit(0)
    for p, plane in enumerate(planes):
        out = out + F.when(_dot_lit(vec_col, plane) >= 0, F.lit(1 << p)).otherwise(
            F.lit(0)
        )
    return out


def _cosine(va, vb, na, nb):
    dot = F.aggregate(
        F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return dot / (na * nb)


def _with_norm(emb: DataFrame, id_col: str, out_id: str, vec: str, norm: str):
    v = _as_double(F.col("embedding"))
    return emb.select(
        F.col(id_col).alias(out_id),
        v.alias(vec),
        F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)).alias(norm),
    )


def _corpus_and_probes(emb: DataFrame, n_probes: int):
    """The normed corpus ``(n_id, vn, nn)`` and its first ``n_probes`` ids as
    probes ``(p_id, vp, np)``."""
    return (
        _with_norm(emb, "vec_id", "n_id", "vn", "nn"),
        _with_norm(emb.filter(F.col("vec_id") < n_probes), "vec_id", "p_id", "vp", "np"),
    )


def _probe_topk(cand: DataFrame, cols: list[str], k: int) -> DataFrame:
    """Top-``k`` neighbors per probe by exact cosine, ties to the lower id."""
    cos = F.round(_cosine(F.col("vp"), F.col("vn"), F.col("np"), F.col("nn")), 6)
    return top_k(
        cand.select(*cols, cos.alias("cosine")),
        ["p_id"],
        [F.desc("cosine"), F.asc("n_id")],
        k,
    )


def cosine_topk(emb: DataFrame, n_probes: int = 5, k: int = 10) -> DataFrame:
    """Brute-force cosine top-k: probes = first ``n_probes`` ids (a stand-in
    for an arbitrary probe table). Broadcast the (small) probe side against a
    scan of the corpus — the corpus never leaves its executors, so the plan
    survives a 100× corpus without a driver/executor OOM. Ranking is
    ``top_k``: its ``WindowGroupLimit`` Partial keeps ≤ ``k`` rows per probe
    in each corpus partition before the shuffle, so no task sorts the whole
    corpus for a probe. Ties broken by neighbor id (deterministic)."""
    corpus, probes = _corpus_and_probes(emb, n_probes)
    cand = F.broadcast(probes).join(corpus, F.col("p_id") != F.col("n_id"))
    return _probe_topk(cand, ["p_id", "n_id"], k)


IVF_STRIDE = 31  # vec_id % stride == 0 → deterministic centroid seeds
IVF_NPROBE = 2


def ivf_topk(
    emb: DataFrame,
    n_probes: int = 5,
    k: int = 10,
    stride: int = IVF_STRIDE,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF-style ANN top-k: centroid-partitioned candidate search.

    The inverted-file (IVF) scale path beyond LSH buckets: corpus vectors are
    assigned to their nearest centroid (coarse quantizer); a query searches
    only the ``nprobe`` nearest centroid partitions. Training-free
    deterministic centroids (every ``stride``-th vector) stand in for a
    k-means codebook — the *plan* is the point: at 10^9+ vectors the corpus
    is physically partitioned by ``cluster`` and a probe touches nprobe/C of
    it.

    Plan shape: the centroid matrix (C×dim floats — half a MB at 30×; a
    k-means codebook is small by construction) rides the closure
    of an Arrow kernel that assigns each batch with one (B,dim)×(dim,C)
    matmul — no shuffle; ties go to the lower cid via a stable argsort over
    cid-ascending centroid columns. The candidate join is an equi-join on
    ``cluster`` (shuffle keyed by cluster id, the IVF fan-in); ranking is a
    per-probe ``top_k`` over the probed partitions only. Candidate cosines are
    ordered left-folds — bit-identical to the DuckDB oracle; the assignment
    cosines are not (matmul summation order), so a centroid pair tied to the
    last bit could assign differently than the oracle's fold (none does at
    sf0.001-sf0.1).
    """
    seeds = emb.filter(F.col("vec_id") % stride == 0)
    crows = sorted(
        _with_norm(seeds, "vec_id", "cid", "cv", "cnorm").collect(),
        key=lambda r: r["cid"],
    )
    cids = np.array([r["cid"] for r in crows], dtype=np.int64)
    cmat = np.array([r["cv"] for r in crows], dtype=np.float64)
    cnorms = np.array([r["cnorm"] for r in crows], dtype=np.float64)

    @F.pandas_udf("array<bigint>")
    def _topcids(vn: pd.Series, nn: pd.Series) -> pd.Series:
        V = np.array(list(vn), dtype=np.float64)
        cos = (V @ cmat.T) / (np.asarray(nn, dtype=np.float64)[:, None] * cnorms[None, :])
        order = np.argsort(-cos, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([cids[row].tolist() for row in order])

    corpus, probes = _corpus_and_probes(emb, n_probes)
    corpus = corpus.withColumn(
        "cluster", F.element_at(_topcids(F.col("vn"), F.col("nn")), 1)
    )
    probes = probes.withColumn("cluster", F.explode(_topcids(F.col("vp"), F.col("np"))))
    cand = probes.join(corpus, ["cluster"]).filter(F.col("p_id") != F.col("n_id"))
    return _probe_topk(cand, ["p_id", "cluster", "n_id"], k)


def lsh_ann_topk(emb: DataFrame, n_probes: int = 5, k: int = 10) -> DataFrame:
    """LSH-bucketed ANN top-k: equi-join probe and corpus on bucket id, then
    exact cosine rank within the bucket. At corpus scale the bucket join
    replaces the broadcast-everything of ``cosine_topk``.

    Multi-probe: each probe also searches every bucket within hamming 2 of
    its own (``PROBE_FLIPS``), so a near-miss on one or two hyperplanes no
    longer hides a close neighbor — planted-neighbor recall 0.92 vs 0.67 for
    ±1-bit probes at equal wall (BASELINE.md). The extra rows are probe-side
    only: the corpus stays single-bucket, so corpus-side bucket cardinality,
    join parallelism and corpus shuffle volume are unchanged at any scale.
    Pairs cannot duplicate: a neighbor lives in exactly one bucket and probe
    variants are distinct buckets."""
    planes = hyperplanes()
    corpus, probes = _corpus_and_probes(emb, n_probes)
    corpus = corpus.withColumn("bucket", bucket_id(F.col("vn"), planes))
    variants = F.array(
        *[F.col("bucket0").bitwiseXOR(F.lit(m)) for m in PROBE_FLIPS]
    )
    probes = (
        probes.withColumn("bucket0", bucket_id(F.col("vp"), planes))
        .withColumn("bucket", F.explode(variants))
    )
    cand = probes.join(corpus, ["bucket"]).filter(F.col("p_id") != F.col("n_id"))
    return _probe_topk(cand, ["p_id", "bucket", "n_id"], k)


KM_QUANT = 1_000_000  # fixed-point scale for exact-integer k-means arithmetic
KM_DIM = 64


def kmeans_step(
    emb: DataFrame,
    stride: int = IVF_STRIDE,
    dim: int = KM_DIM,
    quant: int = KM_QUANT,
    id_col: str = "vec_id",
) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding column — the
    iterative-refinement step of semantic clustering (topic bucketing /
    semantic dedup over a training corpus). Seeds are deterministic data
    rows (``vec_id % stride == 0``), as in ``ivf_topk``.

    Everything is **exact fixed-point integer arithmetic** so a SQL oracle
    reproduces it bit-for-bit: vectors quantize to ``round(x * quant)``
    BIGINTs; squared distances, the argmin assignment (ties to the lower
    centroid id) and the per-dimension member sums are integer-exact; only
    the final reported mean divides (one IEEE double op, identical in both
    engines). No float accumulation order can diverge.

    Scale shape (what a 1000-executor run needs):
    - assignment is a fold over the 1-row broadcast centroid array — a
      scan-side column expression, zero shuffles, no Python (q39's pattern);
    - the update is ONE groupBy(cluster) with ``dim`` per-dimension sums —
      map-side partial aggregation, no per-dimension row explosion before
      the shuffle (the k×dim fan-out happens post-agg on k rows);
    - inertia rides the same aggregate as an exact BIGINT sum.

    Returns (cluster_id, n_members, inertia_q, dim, sum_q, mean) — one row
    per (cluster, dimension), the new centroid in exact and float form.
    """
    qv = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * quant).cast("long")
    )
    pts = _km_quantize(emb, quant, id_col)
    cents = pts.filter(F.col("vid") % stride == 0).select(
        F.col("vid").alias("cid"), F.col("q").alias("cq")
    )
    return _km_select(_km_aggregate(_km_assign(pts, cents), dim, quant))


def _km_quantize(emb: DataFrame, quant: int, id_col: str) -> DataFrame:
    qv = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * quant).cast("long")
    )
    return emb.select(F.col(id_col).alias("vid"), qv.alias("q"))


def _km_assign(pts: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment as a fold over the 1-row broadcast
    centroid array — a scan-side expression, zero shuffles, ties to the
    lower centroid id."""
    carr = cents.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cq"))).alias("cs")
    )

    def d2(cq):
        return F.aggregate(
            F.zip_with(F.col("q"), cq, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    scored = F.transform(
        F.col("cs"),
        lambda c: F.struct(c["cid"].alias("cid"), d2(c["cq"]).alias("d2")),
    )
    best = F.aggregate(
        scored,
        F.struct(
            F.lit(-1).cast("long").alias("cid"),
            F.lit(2**62).cast("long").alias("d2"),
        ),
        lambda acc, s: F.when(
            (s["d2"] < acc["d2"])
            | ((s["d2"] == acc["d2"]) & (s["cid"] < acc["cid"])),
            s,
        ).otherwise(acc),
    )
    return (
        pts.crossJoin(F.broadcast(carr))
        .withColumn("b", best)
        .select(
            "vid",
            "q",
            F.col("b.cid").alias("cluster_id"),
            F.col("b.d2").alias("d2"),
        )
    )


def _km_aggregate(assigned: DataFrame, dim: int, quant: int) -> DataFrame:
    """Centroid update: ONE groupBy(cluster) with per-dimension sums
    (map-side combined), k×dim fan-out post-agg; emits the exact-integer
    6-dp mean (``mean_e6``) — half-away-from-zero rounding in BIGINTs, so
    no float round() semantics cross engines."""
    sums = [
        F.sum(F.element_at("q", i)).alias(f"_s{i}") for i in range(1, dim + 1)
    ]
    agg = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("d2").alias("inertia_q"),
        *sums,
    )
    dims = F.posexplode(F.array(*[F.col(f"_s{i}") for i in range(1, dim + 1)]))
    # Half-away-from-zero rounding entirely in BIGINT: SQL `div` is exact
    # integer division, unlike `/` which is a Divide(double) on long/long and
    # loses bits past 2^53 (~9e3 members/cluster at unit-scale embeddings).
    # The numerator 2*|sum_q|*1e6 + denom is always >= 0 and denom > 0, so
    # trunc-toward-zero (`div`) equals floor and matches DuckDB's `//`.
    mean_e6 = F.expr(
        "IF(sum_q < 0, -1L, 1L) * "
        "((2L * abs(sum_q) * 1000000L + n_members * CAST({q} AS BIGINT)) "
        "div (2L * n_members * CAST({q} AS BIGINT)))".format(q=int(quant))
    )
    return agg.select(
        "cluster_id", "n_members", "inertia_q", dims.alias("pos", "sum_q")
    ).select(
        "cluster_id",
        "n_members",
        "inertia_q",
        (F.col("pos") + 1).alias("dim"),
        "sum_q",
        mean_e6.cast("long").alias("mean_e6"),
    )


def _km_select(agg: DataFrame) -> DataFrame:
    return agg.select(
        "cluster_id",
        "n_members",
        "inertia_q",
        "dim",
        "sum_q",
        (F.col("mean_e6") / F.lit(1e6)).alias("mean"),
    )


def kmeans_iterate(
    emb: DataFrame,
    n_iters: int = 2,
    stride: int = IVF_STRIDE,
    dim: int = KM_DIM,
    quant: int = KM_QUANT,
    id_col: str = "vec_id",
) -> DataFrame:
    """Fixed-point Lloyd's algorithm, ``n_iters`` distributed iterations —
    the iterative form of ``kmeans_step``. Centroids between iterations are
    the exact-integer 6-dp means (``mean_e6``), so every iteration remains
    bit-deterministic and a SQL oracle can unroll the whole loop (q63 pins
    two unrolled iterations); cluster labels stay the seed ids.

    Per iteration: broadcast-fold assignment (zero shuffles) + one
    groupBy(cluster) update; the inter-iteration centroid table is k×dim
    rows, ``localCheckpoint``-ed so plan depth stays O(1) — the same
    driver-sees-only-scalars iteration discipline as
    ``dedup.connected_components``. A production run would stop early on an
    inertia-delta convergence scalar; the iteration count is fixed here so
    the unrolled oracle states the identical computation.

    Clusters that lose all members in an iteration drop out (standard
    Lloyd's on empty clusters); ``n_iters`` must be ≥ 1.
    """
    pts = _km_quantize(emb, quant, id_col).localCheckpoint()
    cents = pts.filter(F.col("vid") % stride == 0).select(
        F.col("vid").alias("cid"), F.col("q").alias("cq")
    )
    agg = None
    for t in range(n_iters):
        agg = _km_aggregate(_km_assign(pts, cents), dim, quant)
        if t < n_iters - 1:
            cents = (
                agg.groupBy("cluster_id")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("dim", "mean_e6"))
                    ).alias("dm")
                )
                .select(
                    F.col("cluster_id").alias("cid"),
                    F.transform(F.col("dm"), lambda s: s["mean_e6"]).alias(
                        "cq"
                    ),
                )
                .localCheckpoint()
            )
    return _km_select(agg)
