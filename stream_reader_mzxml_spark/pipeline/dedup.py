"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (the point of each op at 100 TB):

- **exact**: one hash-shuffle on ``md5(text)`` — Catalyst partial/final agg;
  no text ever shuffles, only the 16-byte digest + keeper id.
- **n-gram Jaccard**: the inverted-index self-join — explode *distinct*
  shingle hashes, equi-join on the shingle (never a cross join), count
  intersections per pair, union from per-doc sizes. Shuffle volume =
  Σ shingles; hot shingles (stop-phrases) are the skew axis, bounded by
  frequent-shingle pruning (df > ``NGRAM_MAX_DF`` dropped on both sides
  before the self-join; Jaccard exact over the pruned space).
- **MinHash+LSH**: per-doc signature (k permutations, map-side only) →
  band-bucket equi-join (b bands of r). Only docs sharing a band bucket ever
  meet, so candidate volume is tunable via (b, r) to the target similarity.
- **SimHash**: 60-bit signature (h60 = 15 md5 hex chars); candidates via
  4×15-bit band pigeonhole — recall is *provably* 1.0 for hamming ≤ 3 (a
  pair differing in < 4 bits must share one of 4 disjoint 15-bit bands), so
  the banded plan is exactly equal to the all-pairs plan the oracle runs,
  while the join key spans ~131k values (candidate volume near-linear).
- **embedding cosine**: brute-force all-pairs here (the correctness
  baseline); the bucketed scale path is ``similarity.lsh_ann`` — same
  hyperplane construction, candidates only within a bucket.

All hashes derive from the portable ``h32`` (md5-prefix) so the DuckDB oracle
reproduces every signature bit-for-bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stream_reader_mzxml_spark.pipeline.similarity import _cosine, _with_norm
from stream_reader_mzxml_spark.pipeline.text import h32, h60, words
from stream_reader_mzxml_spark.sources.readers import spread_scan

MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32
MINHASH_K = 16  # permutations
MINHASH_BANDS = 4  # bands of r = k/b rows


def _minhash_perms(k: int = MINHASH_K, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation params; a odd, both < 2^20 so
    ``a*h32 + b < 2^52`` stays BIGINT-exact in both engines."""
    rng = np.random.RandomState(seed)
    out = []
    for _ in range(k):
        a = int(rng.randint(1, 1 << 20)) | 1
        b = int(rng.randint(0, 1 << 20))
        out.append((a, b))
    return out


MINHASH_PERMS = _minhash_perms()


def shingle_hashes(text_col, n: int = 3):
    """Distinct word n-gram shingle hashes (h32 of 'w1|w2|w3') per doc."""
    ws = words(text_col)
    idx = F.sequence(F.lit(0), F.size(ws) - n)  # guarded: only when size >= n
    grams = F.transform(
        idx,
        lambda i: h32(
            F.concat_ws(
                "|", *[F.element_at(ws, (i + j + 1).cast("int")) for j in range(n)]
            )
        ),
    )
    return F.when(F.size(ws) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<bigint>")
    )


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: group by content digest, keep min doc_id (S11-style
    deterministic keeper). Returns (text_hash, keeper_doc_id, n_dups)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


NGRAM_MAX_DF = 50  # shingles present in > this many docs are pruned (skew cap)


def _pair_jaccard(
    df: DataFrame, text_col: str, n: int, max_df: int | None
) -> DataFrame:
    """(a_id, b_id, n_int, n_a, n_b) for every doc pair sharing ≥1 shingle.

    ``max_df`` is the frequent-shingle cap: a stop-phrase shingle shared by
    millions of docs makes the inverted-index self-join quadratic in that
    shingle's document frequency — the unbounded skew axis at 100 TB. We
    compute shingle df, collect the (tiny, Zipf-tail) frequent set, and
    broadcast-anti-join it away BEFORE the self-join; Jaccard is then exact
    over the pruned shingle space (denominators recomputed post-prune).
    Trade-off: pairs whose similarity rests mostly on ubiquitous shingles can
    fall below threshold (recall loss on boilerplate-only matches — usually
    the desired behavior for near-dup mining); no false positives are added.
    """
    sh = spread_scan(df).select(
        F.col("doc_id"), shingle_hashes(F.col(text_col), n).alias("shingles")
    )
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    if max_df is not None:
        freq = (
            ex.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("s")
        )
        ex = ex.join(F.broadcast(freq), ["s"], "left_anti")
    sized = ex.join(
        ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh")), ["doc_id"]
    )
    a = sized.select(
        F.col("doc_id").alias("a_id"), F.col("n_sh").alias("n_a"), "s"
    )
    b = sized.select(
        F.col("doc_id").alias("b_id"), F.col("n_sh").alias("n_b"), "s"
    )
    return (
        a.join(b, ["s"])
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_int"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    n: int = 3,
    max_df: int | None = NGRAM_MAX_DF,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via the inverted-index join,
    with frequent-shingle pruning (df > ``max_df``) bounding hot-key skew.
    ``max_df=None`` disables pruning (exact over the full shingle space).
    The scan is spread (:func:`sources.readers.spread_scan`): md5 shingling
    is interpreted, and a single-split local scan serializes it on one core."""
    p = _pair_jaccard(df, text_col, n, max_df)
    jac = F.col("n_int") / (F.col("n_a") + F.col("n_b") - F.col("n_int"))
    return p.select(
        "a_id", "b_id", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def minhash_signature(text_col, k: int = MINHASH_K, n: int = 3):
    """Array<BIGINT> MinHash signature: min over shingles of (a*h+b) mod P."""
    sh = shingle_hashes(text_col, n)

    def _min_perm(a: int, b: int):
        return F.array_min(F.transform(sh, lambda h: (h * a + b) % MINHASH_PRIME))

    return F.array(*[_min_perm(a, b) for a, b in MINHASH_PERMS[:k]])


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: banded candidate join, then estimated
    Jaccard = matching-signature-component fraction, filtered at threshold.

    The banded join is the scale path: docs meet only when one band of
    ``r = k/bands`` components matches exactly, so shuffle volume is
    O(docs × bands) not O(docs²)."""
    r = k // bands
    # explode + groupBy form: the (expensive) shingle expression is evaluated
    # exactly once per doc; the k permutation mins are trivial aggregates.
    # The array-expression form (minhash_signature) duplicates the shingle
    # subtree k times — k× the work and k× the generated code.
    ex = spread_scan(df).select(
        "doc_id", F.explode(shingle_hashes(F.col(text_col))).alias("h")
    )
    sig = ex.groupBy("doc_id").agg(
        F.array(
            *[
                F.min((F.col("h") * a + b) % MINHASH_PRIME)
                for a, b in MINHASH_PERMS[:k]
            ]
        ).alias("sig")
    )
    banded = sig.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.slice("sig", j * r + 1, r) for j in range(bands)])
        ).alias("band_idx", "band"),
    ).withColumn("band_h", F.xxhash64("band"))
    # scalar join key (arrays make poor hash-join keys); band equality stays
    # as an exact residual so hash collisions cannot create false candidates.
    # Only (doc_id, band) rides the candidate join — signatures are fetched
    # AFTER pair dedup, so the banded shuffle carries r values per row, not
    # the full k-component signature on both sides.
    a = banded.select(
        F.col("doc_id").alias("a_id"), F.col("band").alias("band_a"),
        "band_idx", "band_h",
    )
    b = banded.select(
        F.col("doc_id").alias("b_id"), F.col("band").alias("band_b"),
        "band_idx", "band_h",
    )
    pairs = (
        a.join(b, ["band_idx", "band_h"])
        .filter((F.col("a_id") < F.col("b_id")) & (F.col("band_a") == F.col("band_b")))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    cand = pairs.join(
        sig.select(F.col("doc_id").alias("a_id"), F.col("sig").alias("sig_a")), "a_id"
    ).join(
        sig.select(F.col("doc_id").alias("b_id"), F.col("sig").alias("sig_b")), "b_id"
    )
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        / F.lit(k)
    )
    return cand.select(
        "a_id", "b_id", F.round(est, 6).alias("est_jaccard")
    ).filter(F.col("est_jaccard") >= threshold)


SIMHASH_BITS = 60  # 15 hex chars of md5 — fits signed int64 in both engines
SIMHASH_BANDS = 4  # 15-bit bands → 4 × 2^15 ≈ 131k distinct join-key values


def simhash_signatures(tf, bits: int) -> DataFrame:
    """(doc_id, tf, h) → (doc_id, sim): the per-doc simhash signature.

    One ``sum(tf·(±1))`` aggregate column per bit; bit j is set iff its
    signed sum is ≥ 0. Each column is an exact BIGINT sum, so no document
    length can carry one bit's count into another's."""
    bit_sums = tf.groupBy("doc_id").agg(
        *[
            F.sum(
                F.col("tf")
                * (F.shiftright("h", j).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"s{j}")
            for j in range(bits)
        ]
    )
    sim = F.lit(0).cast("long")
    for j in range(bits):
        sim = sim + F.when(
            F.col(f"s{j}") >= 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0))
    return bit_sums.select("doc_id", sim.alias("sim"))


def simhash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    bands: int = SIMHASH_BANDS,
) -> DataFrame:
    """SimHash near-dup pairs with hamming ≤ ``max_hamming`` (< ``bands``).

    Candidates from ``bands`` disjoint ``bits/bands``-wide bands (pigeonhole:
    a pair with < ``bands`` differing bits shares ≥1 band) — the banded plan
    provably equals the all-pairs plan, which is exactly what the DuckDB
    oracle runs.

    Scale note (round-2 re-band): with 60-bit signatures and 4×15-bit bands
    the candidate join key has 4·2^15 ≈ 131k values, so each bucket holds
    ~n/2^15 docs and candidate volume stays near-linear for corpora whose
    signatures spread (vs the old 32-bit/4-bit-nibble scheme whose 128-value
    key made the join all-pairs-in-disguise at scale)."""
    assert bits % bands == 0, "bands must tile the signature"
    assert max_hamming < bands, "pigeonhole guarantee needs hamming < #bands"
    width = bits // bands
    mask = (1 << width) - 1
    # explode + two-level groupBy: tf per (doc, word) once, then the bit-sum
    # aggregates — a per-row expression would rebuild the O(words²) tf
    # subtree once per bit
    tf = (
        spread_scan(df)
        .select("doc_id", F.explode(words(F.col(text_col))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("doc_id", "tf", h60(F.col("w")).alias("h"))
    )
    sig = simhash_signatures(tf, bits)
    banded = sig.select(
        "doc_id",
        "sim",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("sim", width * i).bitwiseAND(F.lit(mask))
                    for i in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a = banded.select(
        F.col("doc_id").alias("a_id"), F.col("sim").alias("sim_a"),
        "band_idx", "band_val",
    )
    b = banded.select(
        F.col("doc_id").alias("b_id"), F.col("sim").alias("sim_b"),
        "band_idx", "band_val",
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "sim_a", "sim_b")
        .dropDuplicates(["a_id", "b_id"])
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.select("a_id", "b_id", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def embedding_cosine_pairs(
    emb: DataFrame, threshold: float = 0.45, id_col: str = "vec_id"
) -> DataFrame:
    """Embedding-cosine near-dup pairs, brute force (correctness baseline).

    Dot products are ordered left-folds over double-cast components so the
    float result is bit-identical to the oracle's ordered list_sum. The
    O(n²) join is the baseline; the bucketed scale path is
    ``similarity.lsh_ann_topk``."""
    a = _with_norm(emb, id_col, "a_id", "va", "na")
    b = _with_norm(emb, id_col, "b_id", "vb", "nb")
    cos = _cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


SEGMENT_WIDTH = 8  # words per segment for cross-doc segment dedup


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    width: int = SEGMENT_WIDTH,
) -> DataFrame:
    """Cross-doc duplicated-segment fractions (line-/substring-level dedup).

    The RefinedWeb/CCNet-style step between exact and fuzzy dedup: boilerplate
    repeats at *segment* granularity (navboxes, license blocks, templated
    sentences) even when whole documents differ. Documents are cut into
    non-overlapping ``width``-word segments; a segment whose h32 appears in
    more than one distinct document is "duplicated"; each doc reports its
    duplicated-segment fraction.

    Plan shape: segments explode scan-side; ONE groupBy on the segment hash
    computes cross-doc document frequency (partial/final — a hot boilerplate
    segment costs a combiner cell, never a pair join, so there is no
    quadratic skew axis, unlike the shingle self-join); the df>1 set is
    corpus-sized (NOT broadcastable, unlike the benchmark-gram set of
    ``decontam``), so it flows back over a shuffle join on the segment hash;
    final per-doc counts are one more high-cardinality groupBy. 3 shuffles
    total, none carrying text.

    Returns ``(doc_id, n_segments, n_dup_segments, dup_frac)``.
    """
    ws = words(F.col(text_col))
    n_seg = (F.size(ws) / width).cast("int")  # trailing partial segment dropped
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: h32(
            F.concat_ws(
                "|", F.slice(ws, (i * width + 1).cast("int"), width)
            )
        ),
    )
    ex = spread_scan(df).select(
        "doc_id",
        F.explode_outer(
            F.when(n_seg > 0, F.array_distinct(segs)).otherwise(
                F.array().cast("array<bigint>")
            )
        ).alias("seg"),
    )
    seg_df = (
        ex.filter(F.col("seg").isNotNull())
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    marked = ex.join(
        seg_df.filter(F.col("n_docs") > 1).select("seg", F.lit(1).alias("dup")),
        ["seg"],
        "left",
    )
    out = marked.groupBy("doc_id").agg(
        F.count("seg").alias("n_segments"),
        F.sum(F.coalesce(F.col("dup"), F.lit(0))).alias("n_dup_segments"),
    )
    frac = F.when(
        F.col("n_segments") > 0, F.col("n_dup_segments") / F.col("n_segments")
    ).otherwise(F.lit(0.0))
    return out.select(
        "doc_id", "n_segments", "n_dup_segments", F.round(frac, 6).alias("dup_frac")
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 60,
    stats: dict | None = None,
) -> DataFrame:
    """Near-dup clusters: connected components of the candidate-pair graph.

    The step real corpus dedup needs AFTER pair generation: MinHash/SimHash
    emit *pairs*, but the keep/drop decision is per *cluster* (keep one doc
    per component). Implemented as alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the published O(log n)-round algorithm for trillion-edge
    graphs, vs. the O(diameter) rounds of naive min-label propagation:

    - large-star: every node attaches its *larger* neighbors to its minimum
      neighborhood node — one groupBy(min) + one self-attach union.
    - small-star: every node attaches its smaller-or-equal neighbors to the
      minimum — after which chains collapse into stars.

    Each round is two hash-shuffles on the node id (no text, 16 bytes/edge);
    the driver sees only a per-round convergence *scalar* (edge checksum),
    never row data, and ``localCheckpoint`` truncates the iterative lineage
    so plans stay O(1) per round. Rounds are O(log n) with high probability
    — at 10^12 docs that is ~40 rounds worst case, each a bounded shuffle.

    Returns ``(doc_id, component_id, cluster_size)`` for every node that
    appears in at least one pair; ``component_id`` = min doc_id reachable.
    """
    a, b = F.col(a_col), F.col(b_col)
    # canonical undirected edge set u > v (self-loops dropped)
    edges = (
        pairs.select(F.greatest(a, b).alias("u"), F.least(a, b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def _star(e: DataFrame, large: bool) -> DataFrame:
        # neighborhoods as symmetric (x, nbr); m(x) = min(N(x) ∪ {x})
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.withColumn("m", F.least("u", "mn")).select("u", "m")
        cond = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
        attached = (
            sym.filter(cond)
            .join(mins, "u")
            .select(F.greatest("v", "m").alias("u"), F.least("v", "m").alias("v"))
        )
        out = attached.union(
            mins.filter(F.col("u") != F.col("m")).select(
                "u", F.col("m").alias("v")
            )
        )
        return out.filter(F.col("u") != F.col("v")).distinct()

    prev_sig = None
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        edges = _star(edges, large=True)
        edges = _star(edges, large=False).localCheckpoint()
        # convergence scalar: order-independent checksum + count of the edge
        # set (aggregate to driver — never row data)
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-independent set checksum with no overflow (ANSI)
            F.coalesce(
                F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)
            ).alias("sig"),
        ).first()
        sig = (row["n"], row["sig"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if stats is not None:
        # observability for scale-shape evidence: rounds vs graph diameter.
        # `sig` is the LAST COMPUTED edge count — meaningful evidence even on
        # the non-convergence raise path (r4 ADVICE; prev_sig lagged a round)
        stats["rounds"] = rounds
        stats["final_edges"] = sig[0] if rounds else 0
    if not converged:
        # A non-star edge set here would make dedup_apply keep/drop the
        # WRONG docs downstream — fail loudly rather than return it.
        # max_iter=60 sits above the ~40-round O(log n) w.h.p. worst case
        # the docstring estimates for 10^12 docs.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large-star/small-star rounds; raise max_iter"
        )

    # post-convergence the edge set is a star forest: v IS the component root
    members = edges.select(F.col("u").alias("doc_id"), F.col("v").alias("component_id"))
    roots = members.select("component_id").distinct().select(
        F.col("component_id").alias("doc_id"), F.col("component_id")
    )
    nodes = members.union(roots)
    sizes = nodes.groupBy("component_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return nodes.join(sizes, "component_id").select(
        "doc_id", "component_id", "cluster_size"
    )


def segment_dedup_apply(
    df: DataFrame,
    text_col: str = "text",
    width: int = SEGMENT_WIDTH,
) -> DataFrame:
    """Span-level dedup APPLY — the rewrite stage after ``segment_dedup``'s
    diagnosis (C4/RefinedWeb line-dedup analog): every non-overlapping
    ``width``-word segment whose hash occurs in more than one distinct
    document is removed everywhere EXCEPT the keeper doc (min doc_id
    containing it); the trailing partial segment is always kept. Emits the
    rewritten text's length and md5 — proof both engines rebuilt the
    identical string — plus per-doc drop counts.

    Scale shape: only (doc_id, seg_idx, seg_hash) triples ride the two
    hash-keyed shuffles (frequency groupBy + verdict join); the per-doc
    dropped-index ARRAY (tiny) joins back to the scan and the text is
    rebuilt scan-side from it — the document text itself never shuffles,
    unlike a naive rebuild that regroups segment words by doc.
    """
    ws = words(F.col(text_col))
    n_seg = (F.size(ws) / width).cast("int")
    idx = F.when(n_seg > 0, F.sequence(F.lit(0), n_seg - 1)).otherwise(
        F.array().cast("array<int>")
    )

    def seg_words(i):
        return F.slice(ws, i * width + 1, F.lit(width))

    pairs = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("i"), h32(F.concat_ws("|", seg_words(i))).alias("h")
        ),
    )
    ex = df.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.i").alias("i"), F.col("p.h").alias("h")
    )
    freq = ex.groupBy("h").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("doc_id").alias("keeper"),
    )
    dropped = (
        ex.join(freq, ["h"])
        .filter((F.col("n_docs") > 1) & (F.col("doc_id") != F.col("keeper")))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("i")).alias("dropped"))
    )
    r = df.join(dropped, ["doc_id"], "left").withColumn(
        "dropped", F.coalesce("dropped", F.array().cast("array<int>"))
    )
    keep_idx = F.filter(
        idx, lambda i: ~F.array_contains(F.col("dropped"), i)
    )
    tail = F.slice(
        ws, n_seg * width + 1, F.greatest(F.size(ws) - n_seg * width, F.lit(0))
    )
    new_ws = F.concat(
        F.flatten(F.transform(keep_idx, seg_words)), tail
    )
    new_text = F.array_join(new_ws, " ")
    return r.select(
        "doc_id",
        n_seg.alias("n_segments"),
        F.size("dropped").alias("n_dropped"),
        F.length(new_text).alias("new_len"),
        F.md5(new_text).alias("new_md5"),
    )
