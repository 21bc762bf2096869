"""Corpus-curation composite: one keep/drop decision per document.

The end-to-end pipeline a web-scale training-data user runs over the raw
corpus — the LLM-data analog of the reference's flagship composed program
(libCandidateIons.sc chains filter→match→gate→render; this chains
quality→language→repetition→PII→dedup→verdict):

- quality score + language-ID + PII surface: pure column exprs in ONE scan
  project (no shuffle);
- within-doc repetition: two partial-aggregated groupBys, re-joined on
  doc_id (docs too short for n-grams coalesce to 0 repetition);
- exact-dup keeper: groupBy(md5(text)) → min doc_id, re-joined on the
  digest (only the 16-byte digest shuffles, never the text);
- verdict: keep iff every gate passes; ``drop_reason`` names the FIRST
  failing gate in a fixed order (quality → repetition → pii → duplicate),
  mirroring how curation pipelines report filter attribution.

At 100 TB: 2 shuffles (doc_id join, digest group+join) on high-cardinality
keys, everything else scan-side. Thresholds are module constants shared with
the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stream_reader_mzxml_spark.operators.aggregates import top_k
from stream_reader_mzxml_spark.pipeline.text import (
    h32,
    has_pii_col,
    pred_lang_col,
    quality_score_col,
    repetition_features,
)

MIN_QUALITY = 0.25
MAX_REP_RATIO = 0.5


def curate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc curation verdict over the documents table.

    All scan-side features (quality score, language verdict, PII surface,
    content digest) are ONE fused projection of the single documents scan —
    never a join of per-feature subqueries, which would rescan and re-parse
    the text once per feature. Only the two genuinely aggregating signals
    join back: within-doc repetition (its own explode+groupBy pass) and the
    exact-dup keeper (digest groupBy over the fused scan's 16-byte hash).
    """
    t = F.col(text_col)
    base = df.select(
        "doc_id",
        F.md5(t).alias("h"),
        quality_score_col(t).alias("quality_score"),
        pred_lang_col(t).alias("pred_lang"),
        has_pii_col(t).alias("has_pii_surface"),
    )
    rep = repetition_features(df, text_col).select("doc_id", "rep_ratio")
    # keeper derives from the RAW scan, not `base`: deriving it from base
    # would duplicate the whole fused feature tree in the logical plan (it
    # appears once per join branch), doubling what the optimizer and codegen
    # must process for a subtree that only needs the 16-byte digest
    keeper = (
        df.select(F.md5(t).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keeper_doc_id"))
    )
    base = base.join(rep, ["doc_id"], "left").join(keeper, ["h"])
    rep_ratio = F.coalesce(F.col("rep_ratio"), F.lit(0.0))
    fail_quality = F.col("quality_score") < MIN_QUALITY
    fail_rep = rep_ratio > MAX_REP_RATIO
    fail_pii = F.col("has_pii_surface") == 1
    fail_dup = F.col("doc_id") != F.col("keeper_doc_id")
    keep = ~(fail_quality | fail_rep | fail_pii | fail_dup)
    reason = (
        F.when(fail_quality, F.lit("quality"))
        .when(fail_rep, F.lit("repetition"))
        .when(fail_pii, F.lit("pii"))
        .when(fail_dup, F.lit("duplicate"))
    )
    return base.select(
        "doc_id",
        "quality_score",
        "pred_lang",
        F.round(rep_ratio, 6).alias("rep_ratio"),
        "has_pii_surface",
        keep.cast("int").alias("keep"),
        reason.alias("drop_reason"),
    )


DOMAIN_CAP = 10  # max docs kept per source


def domain_caps(df: DataFrame, cap: int = DOMAIN_CAP) -> DataFrame:
    """Per-domain document caps — the stratified-sampling step of a web-scale
    corpus mix: no single domain may contribute more than ``cap`` documents
    (per-source quotas keep one mega-crawl host from dominating the mixture).

    Selection within a source is by portable pseudo-random priority
    ``h32('cap:' || doc_id)`` (uniform, deterministic, reproducible in the
    oracle) with ``doc_id`` as tie-break — i.e. a seeded uniform sample of
    ``cap`` docs per source, not "first cap by id" (which would bias toward
    crawl order). The ``cap:`` salt makes this draw independent of
    ``mixing.mixture_sample``'s unsalted ``h32(doc_id)`` draw — unsalted,
    the two "independent" samples are perfectly correlated (cap survivors
    are exactly the low-hash docs mixture then preferentially keeps, so a
    composed pipeline's effective rate is min, not product). Same salting
    discipline as ``mixing.epoch_order``'s per-epoch salt.

    Scale shape: a source is exactly the Zipf-hot axis (one domain can be
    10^9 docs), so ranking is ``top_k``, whose ``WindowGroupLimit`` Partial
    keeps ≤ ``cap`` docs per source in each input partition before the
    shuffle — no task ever sorts a whole domain. Only (doc_id, source,
    priority) is projected, never the text.
    """
    prio = df.select(
        "doc_id",
        "source",
        h32(F.concat(F.lit("cap:"), F.col("doc_id").cast("string"))).alias(
            "priority"
        ),
    )
    return top_k(
        prio, ["source"], [F.asc("priority"), F.asc("doc_id")], cap
    ).select("source", "doc_id", "priority", "rank")


def dedup_apply(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc keep/drop decision from near-dup clusters — the user-facing
    end of the dedup family: pairs (MinHash/SimHash/Jaccard) → components
    (``dedup.connected_components``) → ONE keeper per cluster.

    Keeper = the cluster's ``component_id`` (min doc_id — deterministic
    under retry and independent of partitioning). Docs in no cluster keep
    themselves. Join shape: corpus LEFT JOIN the component map on doc_id —
    the map holds only docs that HAVE a near-dup, so AQE broadcasts it when
    it fits (typical: a few % of the corpus) and falls back to a doc_id
    equi-join when it doesn't; the corpus text never shuffles either way.

    Returns ``(doc_id, keeper_doc_id, keep)``.
    """
    comp = components.select(
        F.col(id_col), F.col("component_id").alias("keeper_doc_id")
    )
    return docs.select(id_col).join(comp, [id_col], "left").select(
        id_col,
        F.coalesce("keeper_doc_id", F.col(id_col)).alias("keeper_doc_id"),
        (F.coalesce("keeper_doc_id", F.col(id_col)) == F.col(id_col))
        .cast("int")
        .alias("keep"),
    )


def training_manifest(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The full training-data pipeline composed end-to-end — the LLM-data
    flagship, mirroring how the composed reference programs (q35/q44/q45)
    chain their stages into one declarative plan:

      curation verdict (``curate``)            → quality/lang/PII/exact-dup
      → near-dup dedup over survivors          → MinHash LSH pairs →
        (``dedup.connected_components`` +        connected components →
         ``dedup_apply``)                        one keeper per cluster
      → mixture sampling over survivors        → per-source token budget,
        (``mixing.mixture_sample``)              exact-integer keep test
      → sequence packing over the sample       → concat-and-split at the
        (``mixing.sequence_packing``)            context length

    Emits ONE row per original document with stage attribution: a doc
    dropped at stage k has NULL verdicts for stages > k, so the manifest
    answers both "what does the trainer read" (rows with ``first_seq``) and
    "why is everything else gone" (first NULL column). Every stage is the
    already-oracle-proven operator — the composition adds joins on doc_id
    only, never new math.

    Scale: each stage consumes the previous stage's survivors (monotone
    shrinking), and the final manifest is doc_id-keyed left joins of
    verdict-only columns — the text never rides any of them.

    Each stage's verdict frame is PINNED (lazy ``localCheckpoint``) because
    it is consumed twice — once as the next stage's survivor filter and once
    in the final manifest join — and without pinning Spark re-derives the
    whole upstream chain per consumer (the expensive ``curate`` scan
    projection ran 3-5x; measured 45 s -> 13.5 s at sf0.1 with pinning).
    The pinned frames are doc_id + a flag — narrow — so materializing them
    once beats re-running full-text regex passes even at 10^12 docs; the
    iterative ``connected_components`` inside already localCheckpoints, so
    the query is batch-only either way (on a cluster, executor loss costs a
    stage recompute of a narrow frame, the same contract CC accepts).
    """
    from stream_reader_mzxml_spark.pipeline import dedup as dd
    from stream_reader_mzxml_spark.pipeline import mixing

    cur = curate(docs, text_col).select(
        "doc_id", F.col("keep").alias("keep_curation")
    ).localCheckpoint(eager=False)
    kept = docs.join(
        cur.filter(F.col("keep_curation") == 1).select("doc_id"), ["doc_id"]
    )
    comps = dd.connected_components(
        dd.minhash_lsh_pairs(kept, threshold=0.5)
    )
    ded = dedup_apply(kept, comps).select(
        "doc_id", F.col("keep").alias("keep_dedup")
    ).localCheckpoint(eager=False)
    surv2 = kept.join(
        ded.filter(F.col("keep_dedup") == 1).select("doc_id"), ["doc_id"]
    )
    mix = mixing.mixture_sample(surv2, text_col=text_col).select(
        "doc_id", "sampled"
    ).localCheckpoint(eager=False)
    surv3 = surv2.join(
        mix.filter(F.col("sampled") == 1).select("doc_id"), ["doc_id"]
    )
    pack = mixing.sequence_packing(surv3, text_col=text_col).select(
        "doc_id", "cum_before", "first_seq", "last_seq"
    )
    base = docs.select(
        "doc_id", "source", mixing._ws_tokens(text_col).alias("n_tokens")
    )
    return (
        base.join(cur, ["doc_id"], "left")
        .join(ded, ["doc_id"], "left")
        .join(mix, ["doc_id"], "left")
        .join(pack, ["doc_id"], "left")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "keep_curation",
            "keep_dedup",
            "sampled",
            "cum_before",
            "first_seq",
            "last_seq",
        )
    )


def curation_gates(
    df: DataFrame, text_col: str = "text", passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """The scan-only half of ``curate`` — quality, language and PII verdicts
    as ONE stateless projection, with first-failing-gate attribution over
    just those gates. This is the ingest-time pre-filter a streaming
    pipeline runs on arrival (the aggregating gates — repetition, exact-dup
    keeper — need corpus state and stay batch/stateful); being a pure
    projection it runs unchanged on a streaming DataFrame, proven
    row-for-row in ``tests/test_pipeline.py::TestCurationGatesStreaming``.
    """
    t = F.col(text_col)
    base = df.select(
        "doc_id",
        *passthrough,
        quality_score_col(t).alias("quality_score"),
        pred_lang_col(t).alias("pred_lang"),
        has_pii_col(t).alias("has_pii_surface"),
    )
    fail_quality = F.col("quality_score") < MIN_QUALITY
    fail_pii = F.col("has_pii_surface") == 1
    keep = ~(fail_quality | fail_pii)
    reason = F.when(fail_quality, F.lit("quality")).when(
        fail_pii, F.lit("pii")
    )
    return base.select(
        "doc_id",
        *passthrough,
        "quality_score",
        "pred_lang",
        "has_pii_surface",
        keep.cast("int").alias("keep"),
        reason.alias("drop_reason"),
    )


HOLDOUT_VAL_PPM = 100_000  # 10%
HOLDOUT_TEST_PPM = 50_000  # 5%


def holdout_split(
    df: DataFrame,
    val_ppm: int = HOLDOUT_VAL_PPM,
    test_ppm: int = HOLDOUT_TEST_PPM,
    id_col: str = "doc_id",
    key_col: str = "source",
) -> DataFrame:
    """Deterministic train/val/test holdout assignment — the split step a
    training pipeline runs before packing, so eval documents never leak
    into the training mixture.

    Assignment is a pure function of the document id: ``draw_ppm =
    (h32('split:' || doc_id) * 1_000_000) >> 32`` maps the 32-bit hash onto
    [0, 1e6) with exact BIGINT arithmetic (h32 < 2^32, so the product fits
    well under 2^63 — no float rounding to diverge between engines), and
    split thresholds are parts-per-million cut points on that draw. Hash
    thresholds rather than exact per-source quotas, deliberately: membership
    is then STABLE under corpus growth (a doc's split never changes when new
    docs arrive or others are dropped — re-splitting on every refresh leaks
    yesterday's train docs into today's test), requires zero state, and is
    streaming-safe as a scan projection. Per-source stratification holds in
    expectation by uniformity of the draw within every source; exact quotas
    would need a per-source global rank.

    The ``split:`` salt keeps this draw independent of
    ``mixing.mixture_sample``'s unsalted draw and ``domain_caps``'s
    ``cap:`` draw — the same salting discipline those operators document
    (unsalted, "independent" decisions correlate perfectly).

    Scale: zero-shuffle stateless projection; the text never rides it.
    """
    draw = F.shiftright(
        h32(F.concat(F.lit("split:"), F.col(id_col).cast("string")))
        * F.lit(1_000_000).cast("long"),
        32,
    )
    base = df.select(id_col, key_col, draw.alias("draw_ppm"))
    split = (
        F.when(F.col("draw_ppm") < test_ppm, F.lit("test"))
        .when(F.col("draw_ppm") < test_ppm + val_ppm, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return base.select(id_col, key_col, "draw_ppm", split.alias("split"))


# ---------------------------------------------------------------------------
# Streaming ingest-time manifest (round 5; VERDICT r4 item 5)
# ---------------------------------------------------------------------------


def _ingest_verdicts(
    deduped: DataFrame, totals: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The shared verdict projection of the ingest manifest: curation gates
    (stateless scan exprs) + the mixture keep test against PRE-DECIDED
    per-source totals. One fused projection + one broadcast stream-static
    join — no stateful operator, so the same code runs on a stream and on
    its batch twin (the row-for-row proof in tests/test_streaming.py).

    The mixture decision replicates ``mixing.mixture_sample(totals=...)``
    exactly (same h32 draw, same product-free BIGINT keep test) — pinned
    against it by test; it is inlined here because composing the two
    projections as a join would be a stream-stream join, which append mode
    cannot do without a second watermark."""
    from stream_reader_mzxml_spark.pipeline.mixing import (
        MIX_RES,
        MIX_TARGET_TOKENS,
        _ws_tokens,
    )
    g = curation_gates(deduped, text_col, passthrough=("source", "event_time", text_col))
    m = g.join(
        F.broadcast(totals.select("source", F.col("src_tokens").cast("long").alias("src_tokens"))),
        ["source"],
        "left",
    )
    prio = F.pmod(h32(F.col("doc_id").cast("string")), F.lit(MIX_RES))
    budget = MIX_TARGET_TOKENS * MIX_RES
    src = F.coalesce(F.col("src_tokens"), F.lit(0).cast("long"))
    # exact BIGINT div, as in mixture_sample (expr form: `div` is not a
    # Column operator)
    sampled = (src == 0) | (
        prio
        < F.expr(
            f"(CAST({budget} AS BIGINT) + coalesce(src_tokens, 0L) - 1L) "
            "div greatest(coalesce(src_tokens, 0L), 1L)"
        )
    )
    keep_gates = F.col("keep") == 1
    return m.select(
        "doc_id",
        "source",
        "event_time",
        _ws_tokens(text_col).alias("n_tokens"),
        "quality_score",
        "pred_lang",
        "has_pii_surface",
        F.col("keep").alias("keep_gates"),
        "drop_reason",
        src.alias("src_tokens"),
        sampled.cast("int").alias("sampled"),
        (keep_gates & sampled).cast("int").alias("selected"),
    )


def streaming_manifest(
    stream: DataFrame,
    totals: DataFrame,
    text_col: str = "text",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Ingest-time training manifest — the streaming-safe subset of
    ``training_manifest`` running per-arrival, append-mode:

      1. exact content dedup within the watermark horizon
         (``dropDuplicatesWithinWatermark`` on the md5 digest — state is
         O(docs per horizon), the only stateful stage)
      2. curation gates — stateless scan projection
      3. mixture sampling against PRE-DECIDED per-source totals (broadcast
         stream-static join; how mixture rates are actually set for an
         ingest stream — yesterday's totals, a planning run, or a quota)

    The corpus-state stages (near-dup CC, repetition, global packing) are
    inherently batch and stay in ``training_manifest`` — at 10^12 scale
    those run as periodic compaction jobs over the ingested table while
    THIS plan decides, at arrival time, what enters it. Emits one row per
    first-seen document with full verdict attribution; its batch twin
    (``ingest_manifest_batch``) is proven row-for-row equal on the same
    fixed input in tests/test_streaming.py.
    """
    h = F.md5(F.col(text_col))
    dd = (
        stream.withWatermark("event_time", watermark)
        .withColumn("content_h", h)
        .dropDuplicatesWithinWatermark(["content_h"])
    )
    return _ingest_verdicts(dd, totals, text_col)


def ingest_manifest_batch(
    docs: DataFrame, totals: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Batch twin of ``streaming_manifest`` on a finite input: first
    occurrence per content digest (min event_time, doc_id tie-break — the
    arrival-order keeper a single-pass stream selects), then the same
    fused verdict projection."""
    h = F.md5(F.col(text_col)).alias("content_h")
    dd = top_k(
        docs.select("*", h), ["content_h"], [F.asc("event_time"), F.asc("doc_id")], 1
    ).drop("rank")
    return _ingest_verdicts(dd, totals, text_col)
