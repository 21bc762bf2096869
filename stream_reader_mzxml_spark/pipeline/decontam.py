"""Benchmark decontamination: flag training documents that overlap an
evaluation set by shared word n-grams.

The standard pretraining hygiene step (n-gram-overlap decontamination as
popularized by the GPT-3 / Pile dataset reports): any training doc sharing
enough distinct n-grams with any benchmark doc is contaminated and must be
dropped before training. Re-expressed Spark-first:

- benchmark n-gram set: distinct shingle hashes of the (small) eval corpus —
  benchmarks are MBs against a 100-TB corpus, so the distinct-gram set is
  built with one tiny aggregation and **broadcast**; the training corpus
  never shuffles;
- per-doc overlap: explode the doc's distinct shingles, broadcast-hash-join
  against the benchmark grams, count hits per doc — all map-side except the
  final doc_id partial/final count;
- verdict: ``contam_frac = hits / n_grams`` with a threshold, plus the raw
  hit count (the reference-style "report both the score and the evidence").

Shingles reuse :func:`stream_reader_mzxml_spark.pipeline.dedup.shingle_hashes`
(h32 of 'w1|w2|w3'), so the DuckDB oracle reproduces every gram bit-for-bit.

At 100 TB: one scan of the corpus, one broadcast build over the eval set, one
high-cardinality groupBy(doc_id) — no skew axis (gram hot keys cost nothing:
the join is a broadcast probe, not a shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stream_reader_mzxml_spark.pipeline.dedup import shingle_hashes
from stream_reader_mzxml_spark.sources.readers import spread_scan

CONTAM_THRESHOLD = 0.05  # fraction of a doc's distinct grams found in the benchmark


def benchmark_grams(bench: DataFrame, n: int = 3) -> DataFrame:
    """Distinct shingle hashes of the benchmark's ``text`` (one column ``g``).

    Small by construction (eval sets are tiny) — callers broadcast it.
    """
    return (
        bench.select(F.explode(shingle_hashes(F.col("text"), n)).alias("g"))
        .distinct()
    )


def ngram_decontaminate(docs: DataFrame, bench: DataFrame, n: int = 3) -> DataFrame:
    """Per-doc benchmark-overlap verdict for every training doc's ``text``.

    Returns ``(doc_id, n_grams, n_hit, contam_frac, contaminated)`` — docs
    with no grams (shorter than ``n`` words) have ``n_grams = 0`` and are
    clean by definition; a doc is contaminated at ``contam_frac >=
    CONTAM_THRESHOLD``.

    Plan shape: ONE shuffle (the doc_id partial/final count). The benchmark
    probe is a broadcast left join with a hit indicator — not a semi-join
    plus a join-back, which would shuffle twice. A 1-row broadcast gram array
    probed per doc with ``array_intersect`` (zero shuffles) returned the same
    rows on q48 at sf0.1 but took more than twice the wall (BASELINE.md "One
    per-group top-k").
    """
    ex = spread_scan(docs).select(
        "doc_id",
        F.explode_outer(shingle_hashes(F.col("text"), n)).alias("g"),
    )
    grams = F.broadcast(benchmark_grams(bench, n).withColumn("hit", F.lit(1)))
    out = (
        ex.join(grams, ["g"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("g").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
        )
    )
    frac = F.when(F.col("n_grams") > 0, F.col("n_hit") / F.col("n_grams")).otherwise(
        F.lit(0.0)
    )
    return out.select(
        "doc_id",
        "n_grams",
        "n_hit",
        F.round(frac, 6).alias("contam_frac"),
        (frac >= CONTAM_THRESHOLD).cast("int").alias("contaminated"),
    )
